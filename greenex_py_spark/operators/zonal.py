"""Zonal raster↔vector statistics (availability family, SURVEY.md §3.2).

Re-expresses the reference's per-row ``rioxarray.clip → mean/std`` /
``np.unique`` kernels (GreenExp/availability.py:289, 553-558, 1068-1080)
as the engine's two-phase aggregation:

  points ⟕(cogroup on tile id)⟖ raster tiles
      → Arrow ``applyInPandas`` computes *tile-local partials*
        (sum, sumsq, count) or (class, count)
      → built-in ``groupBy(id).agg`` combines partials across tiles.

The cogroup shape is the scalability core: each tile's pixel array is
deserialized **once per tile** (not once per point), points meet only the
tiles their buffer touches (tile-span explode is codegen ``sequence``),
and the final combine is a tiny shuffle of partial rows.  One AoI spanning
many tiles and one tile serving many AoIs both parallelize.

Reference-parity semantics:
- pixel selected iff its *center* lies in the AoI (rasterio's default
  rasterization rule used by ``rio.clip``);
- NDVI negatives clamped to 0 *after* selection (``clip(min=0)``,
  availability.py:289) — they still count in n;
- std is population (ddof=0), mean/std rounded to 3
  (availability.py:289);
- landcover percentages = count/total*100 rounded 3, emitted as
  ``"<v>%"`` strings, one column per class (availability.py:553-560,
  1068-1080).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo.grid import GridSpec


def _tile_span(df: DataFrame, lo_x, lo_y, hi_x, hi_y, grid: GridSpec) -> DataFrame:
    """Explode each row to the raster tiles its bbox [lo, hi] touches."""

    def span(lo, hi, origin: float, n_tiles: int):
        return F.sequence(
            F.greatest(F.lit(0), F.floor((lo - origin) / grid.tile_m)).cast("int"),
            F.least(F.lit(n_tiles - 1), F.floor((hi - origin) / grid.tile_m)).cast("int"),
        )

    return (
        df.withColumn("ty", F.explode(span(lo_y, hi_y, grid.origin_y, grid.n_tiles_y)))
        .withColumn("tx", F.explode(span(lo_x, hi_x, grid.origin_x, grid.n_tiles_x)))
    )


def _crop_rows(tiles: DataFrame, row0, nrows) -> DataFrame:
    """``tiles`` cut in the JVM, before any Arrow stage, to the ``nrows``
    pixel rows that start at tile row ``row0``: ``px`` holds only those
    rows, ``h`` becomes ``nrows`` and a ``row0`` column is added, so a
    kernel places the strip at tile row ``ty * tile_px + row0``.  Columns
    stay whole: a strided column slice would need interpreted array
    lambdas.  Binary ``px`` holds float32 pixels, as the surface tiles
    do."""
    w = F.col("w")
    if isinstance(tiles.schema["px"].dataType, T.BinaryType):
        px = F.substring("px", row0 * w * 4 + 1, nrows * w * 4)
    else:
        px = F.slice("px", row0 * w + 1, nrows * w)
    return tiles.withColumns({"px": px, "h": nrows.cast("int"), "row0": row0.cast("int")})


def _circle_windows(left: pd.DataFrame, right: pd.DataFrame, radius: float):
    """Unpack one raster tile (``right``) and yield ``(id, v, d2, m)``
    for each point of ``left`` whose circle holds at least one of the
    tile's pixel centres: the in-circle pixel values, the squared
    distances of the point's pixel window to the point and the window's
    in-circle mask (``d2[m]`` lines up with ``v``)."""
    if len(left) == 0 or len(right) == 0:
        return
    t = right.iloc[0]
    w, h, res = int(t["w"]), int(t["h"]), float(t["res"])
    x0, y0 = float(t["x0"]), float(t["y0"])
    px = np.asarray(t["px"], dtype=np.float64).reshape(h, w)
    r2 = radius * radius
    for pid, x, y in zip(left["id"].to_numpy(np.int64),
                         left["x"].to_numpy(np.float64),
                         left["y"].to_numpy(np.float64)):
        # sub-window of candidate pixels (clip to tile extent)
        i0 = max(0, int(np.floor((x - radius - x0) / res - 0.5)))
        i1 = min(w - 1, int(np.floor((x + radius - x0) / res)))
        j0 = max(0, int(np.floor((y - radius - y0) / res - 0.5)))
        j1 = min(h - 1, int(np.floor((y + radius - y0) / res)))
        if i1 < i0 or j1 < j0:
            continue
        cx = x0 + (np.arange(i0, i1 + 1) + 0.5) * res
        cy = y0 + (np.arange(j0, j1 + 1) + 0.5) * res
        d2 = (cx[None, :] - x) ** 2 + (cy[:, None] - y) ** 2
        m = d2 <= r2
        if m.any():
            yield pid, px[j0:j1 + 1, i0:i1 + 1][m], d2, m


def _circle_partials(points: DataFrame, tiles: DataFrame, radius: float, id_col: str,
                     grid: GridSpec | None, emit, schema: str) -> DataFrame:
    """Tile-local partials of the circle operators: each point meets the
    tiles its buffer touches (cogroup on tile id), and
    ``emit(id, v, d2, m)`` turns each :func:`_circle_windows` item into
    rows of ``schema``.
    ``grid`` defaults to :func:`GridSpec.from_tiles`."""
    grid = grid or GridSpec.from_tiles(tiles)
    x, y = F.col("x"), F.col("y")
    spanned = _tile_span(
        points.select(id_col, "x", "y"), x - radius, y - radius, x + radius, y + radius, grid
    ).withColumnRenamed(id_col, "id")
    cols = [f.split()[0] for f in schema.split(",")]

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        rows = [row for item in _circle_windows(left, right, radius) for row in emit(*item)]
        return pd.DataFrame(rows, columns=cols)

    return (
        spanned.groupBy("tx", "ty")
        .cogroup(tiles.groupBy("tx", "ty"))
        .applyInPandas(kernel, schema=schema)
    )


def _class_counts(pid, v: np.ndarray, *_) -> list[tuple]:
    """(id, class, pixel count) rows for one point's class-coded pixels."""
    vi = v.astype(np.int64)
    if vi.min() >= 0 and vi.max() < 65536:
        # bincount histogram ~10× np.unique on small class codes
        cnts = np.bincount(vi)
        return [(pid, int(c), int(cnts[c])) for c in np.nonzero(cnts)[0]]
    cls, cnt = np.unique(vi, return_counts=True)
    return [(pid, int(c), int(n)) for c, n in zip(cls, cnt)]


def _mean_std(s, s2, n):
    """Rounded mean and population std (ddof=0) column expressions from
    sum, sum of squares and count (availability.py:289)."""
    mean = s / n
    var = s2 / n - mean * mean
    # guard tiny negative variance from FP cancellation
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return F.round(mean, 3), F.round(std, 3)


def _class_pct_pivot(partials: DataFrame, class_values: list[int], col_prefix: str) -> DataFrame:
    """[id, <col_prefix><v> ...] from (id, cls, cnt) partials: each class's
    share of the id's pixels as a ``"<v>%"`` string, round 3, and
    ``"0.0%"`` for absent classes (availability.py:553-560)."""
    counts = partials.groupBy("id", "cls").agg(F.sum("cnt").alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy("id"))
    pct = counts.withColumn(
        "pct", F.concat(F.round(F.col("cnt") / total * 100.0, 3).cast("string"), F.lit("%"))
    )
    pivoted = pct.groupBy("id").pivot("cls", class_values).agg(F.first("pct"))
    return pivoted.select(
        "id", *[F.coalesce(F.col(str(v)), F.lit("0.0%")).alias(f"{col_prefix}{v}") for v in class_values]
    )


def zonal_mean_std(
    points: DataFrame,
    tiles: DataFrame,
    radius: float,
    id_col: str = "id",
    clip_min0: bool = True,
    out_prefix: str = "NDVI",
    grid: GridSpec | None = None,
) -> DataFrame:
    """[id, mean_<p>, std_<p>] — circular-buffer zonal mean/std (A1).

    ``grid`` defaults to :func:`GridSpec.from_tiles` (recovered from the
    tile table's own metadata by two agg jobs on the first call over a
    tile table, memoised for the session)."""

    def emit(pid, v, *_):
        if clip_min0:
            v = np.maximum(v, 0.0)
        return [(pid, float(v.sum()), float((v * v).sum()), int(v.size))]

    partials = _circle_partials(points, tiles, radius, id_col, grid, emit,
                                "id long, s double, s2 double, n long")
    mean, std = _mean_std(F.sum("s"), F.sum("s2"), F.sum("n"))
    return (
        partials.groupBy("id")
        .agg(mean.alias(f"mean_{out_prefix}"), std.alias(f"std_{out_prefix}"))
        .withColumnRenamed("id", id_col)
    )


def zonal_class_percentages(
    points: DataFrame,
    tiles: DataFrame,
    radius: float,
    class_values: list[int],
    id_col: str = "id",
    col_prefix: str = "class_",
    grid: GridSpec | None = None,
) -> DataFrame:
    """[id, class_<v>% ...] — landcover class percentage pivot (A2)."""
    partials = _circle_partials(points, tiles, radius, id_col, grid, _class_counts,
                                "id long, cls long, cnt long")
    return _class_pct_pivot(partials, class_values, col_prefix).withColumnRenamed("id", id_col)


def zonal_ring_profile(
    points: DataFrame,
    tiles: DataFrame,
    radius: float,
    ring_width: float,
    id_col: str = "id",
    clip_min0: bool = True,
    grid: GridSpec | None = None,
) -> DataFrame:
    """[id, ring, n_px, mean_v] — zonal mean by concentric distance
    band (ring = floor(dist/ring_width)): the distance-decay exposure
    GRADIENT around each point, where the reference computes only one
    flat buffer mean (availability.py:289).  Same cogroup/partial shape
    as :func:`zonal_mean_std` — the kernel just keys partials by ring;
    ring membership uses IEEE sqrt (correctly rounded in every engine)
    so band assignment is portable.  Shuffle = (id, ring) partials."""
    n_rings = int(np.ceil(radius / ring_width))

    def emit(pid, v, d2, m):
        if clip_min0:
            v = np.maximum(v, 0.0)
        ring = np.floor(np.sqrt(d2[m]) / ring_width).astype(np.int64)
        out = []
        for rk in np.unique(ring):
            sel = ring == rk
            out.append((pid, int(rk), float(v[sel].sum()), int(sel.sum())))
        return out

    partials = _circle_partials(points, tiles, radius, id_col, grid, emit,
                                "id long, ring long, s double, n long")
    return (
        partials.filter(F.col("ring") < n_rings)
        .groupBy("id", "ring")
        .agg(
            F.sum("n").alias("n_px"),
            F.round(F.sum("s") / F.sum("n"), 3).alias("mean_v"),
        )
        .withColumnRenamed("id", id_col)
    )


def zonal_quantiles(
    points: DataFrame,
    tiles: DataFrame,
    radius: float,
    id_col: str = "id",
    scale: float = 1e6,
    grid: GridSpec | None = None,
) -> DataFrame:
    """[id, n_px, p25, median, p75] — EXACT distributed zonal quantiles.

    Exact medians cannot be combined from (sum, sumsq) partials, and
    approx-percentile sketches are not oracle-checkable, so this takes
    the classic value-histogram route: quantize each in-buffer pixel to
    a fixed-precision integer bucket ``floor(v·scale + 0.5)`` inside the
    tile-local Arrow kernel, shuffle only ``(id, bucket, count)`` rows,
    and read the order statistics off a per-id cumulative-count window.

    Scale design: shuffle volume is O(distinct buckets per zone) —
    bounded by min(buffer pixel count, value-domain/precision), NOT by
    raster size, and entirely independent of the number of zones.  The
    window partitions by zone id, so no global sort ever happens.  The
    result is *exact* for the quantized values (1e-6 buckets on a [-1,1]
    NDVI domain ⇒ quantization error ≤ 5e-7, below the 6-dp reporting
    precision).

    Semantics: median = mean of the lower/upper middle order statistics
    (statistics.median / numpy.median convention); p25/p75 are
    nearest-rank ``ceil(p·n)`` (Hyndman–Fan type 1).  No clip(min=0) —
    unlike :func:`zonal_mean_std` (availability.py:289 clamps for the
    reference's NDVI mean), quantiles describe the raw distribution.

    Shuffle shape: on a smooth raster the 1e-6 buckets are nearly all
    distinct, so a row-per-bucket shuffle degenerates to a
    row-per-pixel dump — ~14 M boxed (id, bucket, count) rows at sf0.1
    cost 15 s, almost all of it Python tuple/int boxing in the tile
    kernel.  The partials therefore travel as PACKED binary columns
    (``ndarray.tobytes()`` of the per-(zone, tile) sorted unique
    values + counts — one row per span, zero per-pixel boxing on
    either side of Arrow), and a per-zone kernel merges the sorted
    runs and reads the order statistics off a cumsum.  Same exact
    outputs, ~7× faster; a genuinely discrete raster still collapses
    to its class histogram inside ``np.unique``.
    """

    def emit(pid, v, *_):
        u, c = np.unique(np.floor(v * scale + 0.5).astype(np.int64), return_counts=True)
        return [(pid, u.tobytes(), c.astype(np.int64).tobytes())]

    partials = _circle_partials(points, tiles, radius, id_col, grid, emit,
                                "id long, vals binary, cnts binary")

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.concatenate(
            [np.frombuffer(b, dtype=np.int64) for b in pdf["vals"]]
        )
        c = np.concatenate(
            [np.frombuffer(b, dtype=np.int64) for b in pdf["cnts"]]
        )
        order = np.argsort(v, kind="stable")
        v, c = v[order], c[order]
        cum = np.cumsum(c)
        n = int(cum[-1])

        def pick(k: int) -> int:
            return int(v[np.searchsorted(cum, k, side="left")])

        # identical FP chains to the SQL oracle: long sums divided by
        # the scale literal; ranks via the same double floor/ceil
        k_lo = int(np.floor((n + 1) / 2))
        k_hi = int(np.floor(n / 2)) + 1
        k25 = int(np.ceil(n * 0.25))
        k75 = int(np.ceil(n * 0.75))
        return pd.DataFrame(
            [[int(pdf["id"].iloc[0]), n,
              pick(k25) / scale,
              (pick(k_lo) + pick(k_hi)) / (2.0 * scale),
              pick(k75) / scale]],
            columns=["id", "n_px", "p25", "median", "p75"],
        )

    out = partials.groupBy("id").applyInPandas(
        merge,
        schema="id long, n_px long, p25 double, median double, p75 double",
    )
    return out.withColumnRenamed("id", id_col)


def cover_percentage_square(
    points: DataFrame,
    greens: DataFrame,
    radius: float,
    id_col: str = "id",
    out_col: str = "greenspace_cover",
) -> DataFrame:
    """[id, <out_col>] — % of a square buffer (side 2r) covered by
    greenspace rectangles (A3, codegen-only variant).

    Exact when rectangles don't overlap (the dissolve operator guarantees
    that upstream for real layers).  Every candidate pair counts once, so
    disjoint parts of one park that share a ``gs_id`` all count.
    ``"<v>%"`` string, round 2 — availability.py:764,997 output contract.
    """
    from .spatial_join import cell_candidates

    cand = cell_candidates(points.select(id_col, "x", "y"), greens, pad=float(radius))
    ow = F.greatest(F.lit(0.0), F.least(F.col("maxx"), F.col("x") + radius)
                    - F.greatest(F.col("minx"), F.col("x") - radius))
    oh = F.greatest(F.lit(0.0), F.least(F.col("maxy"), F.col("y") + radius)
                    - F.greatest(F.col("miny"), F.col("y") - radius))
    overlaps = (
        cand.withColumn("ov", ow * oh)
        .groupBy(id_col)
        .agg(F.sum("ov").alias("ov_sum"))
    )
    buf_area = 4.0 * radius * radius
    return (
        points.select(id_col).distinct()
        .join(overlaps, id_col, "left")
        .select(
            id_col,
            F.concat(
                F.round(F.coalesce(F.col("ov_sum"), F.lit(0.0)) / buf_area * 100.0, 2)
                .cast("string"),
                F.lit("%"),
            ).alias(out_col),
        )
    )


def cover_percentage_circle32(
    points: DataFrame,
    greens_rings: DataFrame,
    radius: float,
    id_col: str = "id",
    out_col: str = "canopy_cover",
) -> DataFrame:
    """Reference-exact variant: 32-segment circle buffer (shapely
    ``quad_segs=8``) ∩ arbitrary polygons via the Sutherland–Hodgman
    kernel; divisor is the 32-gon's own area (availability.py:764 divides
    by ``buffer.area``, not πr²).

    ``greens_rings``: [gs_id, minx..maxy, rings array<array<double>>].
    """
    from ..geo.kernels import circle_polygon, clip_area, polygon_area
    from .spatial_join import cell_candidates

    cand = cell_candidates(points.select(id_col, "x", "y"), greens_rings, pad=float(radius))

    @F.pandas_udf(T.DoubleType())
    def clip_area_udf(x: pd.Series, y: pd.Series, rings: pd.Series) -> pd.Series:
        out = np.zeros(len(x))
        for i in range(len(x)):
            buf = circle_polygon(float(x.iloc[i]), float(y.iloc[i]), radius)
            subject = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings.iloc[i]]
            out[i] = clip_area(subject, buf)
        return pd.Series(out)

    buf_area = polygon_area([circle_polygon(0.0, 0.0, radius)])
    overlaps = (
        cand.withColumn("ov", clip_area_udf("x", "y", "rings"))
        .groupBy(id_col)
        .agg(F.sum("ov").alias("ov_sum"))
    )
    return (
        points.select(id_col).distinct()
        .join(overlaps, id_col, "left")
        .select(
            id_col,
            F.concat(
                F.round(F.coalesce(F.col("ov_sum"), F.lit(0.0)) / buf_area * 100.0, 2)
                .cast("string"),
                F.lit("%"),
            ).alias(out_col),
        )
    )


# ---------------------------------------------------------------------------
# unified AoI table + masked zonal stats (euclidean / isochrone / polygon
# AoIs are interchangeable inputs — SURVEY.md §7.3 item 5)
# ---------------------------------------------------------------------------

AOI_SCHEMA = (
    "id long, kind string, x double, y double, r double, "
    "sax array<double>, say array<double>, sbx array<double>, sby array<double>, "
    "rings array<array<double>>, minx double, miny double, maxx double, maxy double"
)


def aoi_circle(points: DataFrame, radius: float, id_col: str = "id") -> DataFrame:
    """AoI rows for euclidean buffers (availability.py:236)."""
    return points.select(
        F.col(id_col).alias("id"), F.lit("circle").alias("kind"),
        "x", "y", F.lit(float(radius)).alias("r"),
        F.lit(None).cast("array<double>").alias("sax"),
        F.lit(None).cast("array<double>").alias("say"),
        F.lit(None).cast("array<double>").alias("sbx"),
        F.lit(None).cast("array<double>").alias("sby"),
        F.lit(None).cast("array<array<double>>").alias("rings"),
        (F.col("x") - radius).alias("minx"), (F.col("y") - radius).alias("miny"),
        (F.col("x") + radius).alias("maxx"), (F.col("y") + radius).alias("maxy"),
    )


def aoi_isochrone(
    points: DataFrame, nodes: DataFrame, edges: DataFrame,
    radius: float, edge_buff: float = 25.0, id_col: str = "id",
) -> DataFrame:
    """AoI rows for network buffers: the induced ego-edge capsule set
    (make_iso_poly, availability.py:1042-1065); PoIs with no reached
    edge get no row (reference: None geometry → NaN metrics)."""
    from .network import isochrone_edges

    segs = isochrone_edges(points, nodes, edges, radius, id_col)
    return (
        segs.groupBy(F.col(id_col).alias("id"))
        .agg(
            F.collect_list("ax").alias("sax"), F.collect_list("ay").alias("say"),
            F.collect_list("bx").alias("sbx"), F.collect_list("by").alias("sby"),
            (F.least(F.min("ax"), F.min("bx")) - edge_buff).alias("minx"),
            (F.least(F.min("ay"), F.min("by")) - edge_buff).alias("miny"),
            (F.greatest(F.max("ax"), F.max("bx")) + edge_buff).alias("maxx"),
            (F.greatest(F.max("ay"), F.max("by")) + edge_buff).alias("maxy"),
        )
        .select(
            "id", F.lit("iso").alias("kind"),
            F.lit(None).cast("double").alias("x"), F.lit(None).cast("double").alias("y"),
            F.lit(float(edge_buff)).alias("r"),
            "sax", "say", "sbx", "sby",
            F.lit(None).cast("array<array<double>>").alias("rings"),
            "minx", "miny", "maxx", "maxy",
        )
    )


def aoi_polygon(polys: DataFrame, id_col: str = "id") -> DataFrame:
    """AoI rows for raw polygon PoIs (availability.py:232); expects
    [id, rings, minx..maxy]."""
    return polys.select(
        F.col(id_col).alias("id"), F.lit("polygon").alias("kind"),
        F.lit(None).cast("double").alias("x"), F.lit(None).cast("double").alias("y"),
        F.lit(None).cast("double").alias("r"),
        F.lit(None).cast("array<double>").alias("sax"),
        F.lit(None).cast("array<double>").alias("say"),
        F.lit(None).cast("array<double>").alias("sbx"),
        F.lit(None).cast("array<double>").alias("sby"),
        "rings", "minx", "miny", "maxx", "maxy",
    )


def _aoi_mask(aoi_row, cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """Pixel-center membership for one AoI row; (len(cy), len(cx)) bool."""
    from ..geo.kernels import points_in_polygon

    X, Y = np.meshgrid(cx, cy)
    kind = aoi_row["kind"]
    if kind == "circle":
        return (X - aoi_row["x"]) ** 2 + (Y - aoi_row["y"]) ** 2 <= aoi_row["r"] ** 2
    if kind == "polygon":
        rings = [np.asarray(rg, dtype=np.float64).reshape(-1, 2) for rg in aoi_row["rings"]]
        return points_in_polygon(X.ravel(), Y.ravel(), rings).reshape(X.shape)
    # iso: capsule union + hole fill (Polygon(exterior) raster equivalence)
    from .network import _capsule_union, _fill_holes

    segs = [np.asarray(aoi_row[c], float) for c in ("sax", "say", "sbx", "sby")]
    return _fill_holes(_capsule_union(X, Y, *segs, float(aoi_row["r"])))


def zonal_stats_aoi(
    aoi: DataFrame,
    tiles: DataFrame,
    stat: str = "mean_std",
    clip_min0: bool = True,
    class_values: list[int] | None = None,
    out_prefix: str = "NDVI",
    col_prefix: str = "class_",
    grid: GridSpec | None = None,
) -> DataFrame:
    """Masked zonal statistics over arbitrary AoIs.

    Plan: AoI bbox → tile-span explode (codegen) → equi-join to tiles →
    each (AoI, tile) row ``slice``d in the JVM to the rows of the AoI
    window (:func:`_crop_rows`) → ``groupBy(id)`` Arrow kernel assembles
    the AoI-window mosaic, builds the mask (circle / capsule+fill /
    ray-cast), emits the stat.  The mosaic only ever fills the window's
    rows ``[iy0, iy1]``, so the crop is exact for every AoI kind; a
    tile left with 0 rows copies nothing but keeps its AoI's group.

    Only ``iso`` AoIs (isochrones, street edges) need the per-AoI
    mosaic: the hole fill decides a pixel by whether it connects to the
    window border, which no single tile can see.  ``circle`` and
    ``polygon`` membership is per pixel, so they could take per-tile
    partials (the circle cogroup path, :func:`zonal_mean_std`, does);
    they run here so one plan serves a mixed AoI table and every AoI
    gets exactly one row, null stats when no pixel centre falls inside.
    """
    grid = grid or GridSpec.from_tiles(tiles)
    tile_px, res = grid.tile_px, grid.res
    ox, oy = grid.origin_x, grid.origin_y
    joined = _tile_span(
        aoi, F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), grid
    ).join(tiles, ["tx", "ty"])
    # only the tile's rows inside the kernel's window [iy0, iy1] (same
    # floor expressions) cross the Arrow boundary, as tile-local rows
    gy0 = F.col("ty") * tile_px
    lo = F.greatest(F.floor((F.col("miny") - oy) / res) - gy0, F.lit(0))
    hi = F.least(F.floor((F.col("maxy") - oy) / res) - gy0, F.col("h") - 1)
    joined = _crop_rows(joined, lo, F.greatest(hi - lo + 1, F.lit(0)))

    npx_x, npx_y = grid.npx_x, grid.npx_y

    def kernel(kdf: pd.DataFrame) -> pd.DataFrame:
        a = kdf.iloc[0]
        ix0 = max(0, int(np.floor((a["minx"] - ox) / res)))
        ix1 = min(npx_x - 1, int(np.floor((a["maxx"] - ox) / res)))
        iy0 = max(0, int(np.floor((a["miny"] - oy) / res)))
        iy1 = min(npx_y - 1, int(np.floor((a["maxy"] - oy) / res)))
        W = ix1 - ix0 + 1
        H = iy1 - iy0 + 1
        mos = np.full((H, W), np.nan)
        for t in kdf.itertuples(index=False):
            arr = np.asarray(t.px, dtype=np.float64).reshape(t.h, t.w)
            gx0 = int(t.tx) * tile_px
            gy0 = int(t.ty) * tile_px + int(t.row0)
            sx0 = max(ix0, gx0); sx1 = min(ix1, gx0 + t.w - 1)
            sy0 = max(iy0, gy0); sy1 = min(iy1, gy0 + t.h - 1)
            if sx1 < sx0 or sy1 < sy0:
                continue
            mos[sy0 - iy0 : sy1 - iy0 + 1, sx0 - ix0 : sx1 - ix0 + 1] = (
                arr[sy0 - gy0 : sy1 - gy0 + 1, sx0 - gx0 : sx1 - gx0 + 1]
            )
        cx = ox + (np.arange(ix0, ix1 + 1) + 0.5) * res
        cy = oy + (np.arange(iy0, iy1 + 1) + 0.5) * res
        mask = _aoi_mask(a, cx, cy) & ~np.isnan(mos)
        v = mos[mask]
        if stat == "classes":
            if v.size == 0:
                return pd.DataFrame({"id": [], "cls": [], "cnt": []})
            cls, cnt = np.unique(v.astype(np.int64), return_counts=True)
            return pd.DataFrame({"id": a["id"], "cls": cls, "cnt": cnt})
        if v.size == 0:
            return pd.DataFrame({"id": [a["id"]], "s": [np.nan], "s2": [np.nan], "n": [0]})
        if clip_min0:
            v = np.maximum(v, 0.0)
        return pd.DataFrame(
            {"id": [a["id"]], "s": [v.sum()], "s2": [(v * v).sum()], "n": [v.size]}
        )

    if stat == "classes":
        partials = joined.groupBy("id").applyInPandas(kernel, schema="id long, cls long, cnt long")
        return _class_pct_pivot(partials, class_values or [], col_prefix)
    partials = joined.groupBy("id").applyInPandas(kernel, schema="id long, s double, s2 double, n long")
    n = F.col("n")
    mean, std = _mean_std(F.col("s"), F.col("s2"), n)
    return partials.select(
        "id",
        F.when(n > 0, mean).alias(f"mean_{out_prefix}"),
        F.when(n > 0, std).alias(f"std_{out_prefix}"),
    )


def aoi_street_edges(
    edges: DataFrame,
    buffer_dist: float = 10.0,
    id_col: str = "edge_id",
) -> DataFrame:
    """AoI rows for the reference's street-query mode: each network edge
    becomes a PoI whose AoI is the edge buffered by ``buffer_dist``
    (availability.py:52-61 + :133-135 — 'OSM place query → street edges
    become the PoIs', 10 m buffer per edge).  Shares the capsule-mask
    kind with isochrones (a one-segment capsule)."""
    e = edges.filter(F.col("src") < F.col("dst")).select(
        F.coalesce(
            F.col(id_col) if id_col in edges.columns else F.lit(None),
            F.col("src") * F.lit(1 << 20) + F.col("dst"),
        ).alias("id"),
        F.element_at("geom_xs", 1).alias("ax"), F.element_at("geom_ys", 1).alias("ay"),
        F.element_at("geom_xs", -1).alias("bx"), F.element_at("geom_ys", -1).alias("by"),
    )
    return e.select(
        "id", F.lit("iso").alias("kind"),
        F.lit(None).cast("double").alias("x"), F.lit(None).cast("double").alias("y"),
        F.lit(float(buffer_dist)).alias("r"),
        F.array("ax").alias("sax"), F.array("ay").alias("say"),
        F.array("bx").alias("sbx"), F.array("by").alias("sby"),
        F.lit(None).cast("array<array<double>>").alias("rings"),
        (F.least("ax", "bx") - buffer_dist).alias("minx"),
        (F.least("ay", "by") - buffer_dist).alias("miny"),
        (F.greatest("ax", "bx") + buffer_dist).alias("maxx"),
        (F.greatest("ay", "by") + buffer_dist).alias("maxy"),
    )


def zonal_class_variety(
    points: DataFrame,
    tiles: DataFrame,
    radius: float,
    id_col: str = "id",
    grid: GridSpec | None = None,
) -> DataFrame:
    """[id, n_px, n_classes, majority_cls, majority_cnt] — zonal
    VARIETY + MAJORITY over the categorical raster (the FRAGSTATS
    richness companion of ``zonal_class_percentages``: how many
    distinct landcover classes a buffer sees and which dominates).
    Entirely integer — pixel counts, distinct-class count, and an
    argmax decided by (count desc, class asc); no FP exists anywhere.

    Shape: the SAME cell-cogrouped circle-mask kernel emits per-tile
    (id, cls, cnt) partials; one (id, cls) two-phase sum, then a
    per-id window argmax + single-pass aggregate over the dim-sized
    class table (≤ |classes| rows per point).
    """
    partials = _circle_partials(points, tiles, radius, id_col, grid, _class_counts,
                                "id long, cls long, cnt long")
    counts = partials.groupBy("id", "cls").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("id").orderBy(F.col("cnt").desc(), F.col("cls").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .groupBy("id")
        .agg(
            F.sum("cnt").cast("long").alias("n_px"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.max(F.when(F.col("rn") == 1, F.col("cls")))
            .cast("long")
            .alias("majority_cls"),
            F.max(F.when(F.col("rn") == 1, F.col("cnt")))
            .cast("long")
            .alias("majority_cnt"),
        )
        .withColumnRenamed("id", id_col)
    )


def histogram_equalize_stats(
    tiles: DataFrame,
    quant: float = 1e4,
    levels: int = 256,
) -> DataFrame:
    """[tx, ty, n_px, sum_eq] — global histogram EQUALIZATION of the
    quantized raster (the contrast-normalization step an image /
    remote-sensing ingest runs before thresholding or model input),
    reported as exact per-tile sums of the equalized 0..levels−1
    values:

        eq(v) = ((cdf(v) − cdf_min) · (levels−1)) div (n − cdf_min)

    — the classic OpenCV/GDAL formula, integer division end-to-end.

    Quantization is deliberately COARSER than the 1e-6 zonal buckets:
    a 256-level remap cannot distinguish finer than 1/levels of the
    distribution anyway, and 1e-4 buckets keep the global histogram
    dimension-sized (≤ value-domain·1e4 rows) so the cdf join-back
    broadcasts instead of shuffling pixel-count rows.

    Scale shape: this is the one raster op that needs a GLOBAL
    distribution, and the plan is the same two-phase histogram the
    zonal quantiles use — per-tile ``np.unique`` partials (map-side,
    zero per-pixel boxing beyond the kernel), one value-keyed merge,
    one cumulative sum over the distinct-value frame
    (``engine/rank.global_cumsum`` — range-partitioned, no global
    sort task), then one value-keyed join back to the tile partials.
    Shuffle volume is O(distinct values), never O(zones·pixels); the
    partials frame is localCheckpoint'd because BOTH the histogram
    and the join-back consume it (the no-CSE rule)."""
    from ..engine.rank import global_cumsum
    from .focal import _quantized_tiles

    def _hist(it):
        for pdf in it:
            for t, vi in _quantized_tiles(pdf, quant, flat=True):
                u, c = np.unique(vi, return_counts=True)
                yield pd.DataFrame(
                    {"tx": int(t.tx), "ty": int(t.ty), "v": u,
                     "cnt": c.astype(np.int64)}
                )

    partials = tiles.mapInPandas(
        _hist, schema="tx long, ty long, v long, cnt long"
    ).localCheckpoint()
    hist = partials.groupBy("v").agg(F.sum("cnt").alias("c"))
    cdf = global_cumsum(hist, ["v"], "c", out_col="cdf")
    st = cdf.agg(
        F.min_by("cdf", F.col("v")).cast("long").alias("cmin"),
        F.max("cdf").cast("long").alias("n"),
    )
    j = partials.join(
        F.broadcast(cdf.select("v", "cdf")), "v"
    ).crossJoin(F.broadcast(st))
    eq = F.expr(f"((cdf - cmin) * {levels - 1}) div (n - cmin)")
    return j.groupBy("tx", "ty").agg(
        F.sum("cnt").cast("long").alias("n_px"),
        F.sum(eq * F.col("cnt")).cast("long").alias("sum_eq"),
    )
