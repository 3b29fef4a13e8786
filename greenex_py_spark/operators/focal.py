"""Focal (neighborhood) raster statistics with tile halo exchange.

The reference processes rasters as single in-memory arrays; every
distributed raster engine instead stores tiles and must solve the
FOCAL problem: a 3x3 (or kxk) window at a tile edge needs pixels from
the neighbouring tile.  The canonical pattern — and what this module
implements — is **halo exchange**: each tile ships its 1-px border
strips to the (at most 8) adjacent tiles, every tile then assembles a
(h+2)x(w+2) padded canvas and convolves locally.  Data movement is
O(perimeter), not O(area): a 256px tile ships ~1.6% of itself.

Exactness: pixel values are quantised to integers on the producer side
(round-half-away, mirroring SQL ``round``), so focal SUMS are exact
int64 and the focal MEAN is one double division per pixel — the same
order-free contract as the rest of the engine.

Plan shape: one ``mapInPandas`` emits core + strips (bounded explode,
<= 9 parts per tile), one ``groupBy(tile).applyInPandas`` assembles
and convolves — a single shuffle keyed by tile id, identical to the
zonal join's co-partitioning, and per-task memory is one padded tile.

One scaffold owns that plan: :func:`_halo_stats` runs ``_halo_parts``
→ ``groupBy("dtx", "dty").applyInPandas`` → ``_assemble_canvas`` and
calls the operator's STENCIL ``(canvas, mask, w, h, tx, ty) → {column:
value}`` on the padded canvas (``mask`` = 1 on in-raster pixels), then
adds ``tx, ty``.  So each halo operator below is only its stencil plus
the Catalyst step after it; the stencils share the 3×3 window sum
(:func:`_box3`), the interior mask (:func:`_interior`) and the Horn
gradients (:func:`_horn`).  Every map-side raster tile kernel — here,
in hydro, patches, threshold and zonal — reads its tiles through
:func:`_quantized_tiles`, the one place ``px`` is unpacked and
quantised.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.grid import GridSpec

__all__ = [
    "focal_tile_stats", "slope_tile_stats", "pyramid_tile_stats",
    "hillshade_constants", "hillshade_tile_stats", "flow_direction_counts",
    "aspect_octant_counts", "ruggedness_tile_stats", "euler_tile_stats",
    "edge_density_tile_stats", "majority_tile_counts",
    "curvature_class_counts", "core_area_tile_stats",
    "cell_value_sums", "haar_energy_tile_stats", "focal_entropy_tile_stats",
    "marching_squares_counts", "MS_SEGMENTS", "D8_DIRS",
    "octant_case_sql", "quantize_half_away",
]

# midpoint marching-squares segment count per 2×2 case (bit0 = LL,
# bit1 = LR, bit2 = UL, bit3 = UR): saddle cases 6 (LR+UL) and 9
# (LL+UR) carry two segments, full/empty none, everything else one.
MS_SEGMENTS = (0, 1, 1, 1, 1, 1, 2, 1, 1, 2, 1, 1, 1, 1, 1, 0)


def quantize_half_away(v: np.ndarray, quant: float) -> np.ndarray:
    """round(v * quant) with ties away from zero — the NumPy twin of
    SQL ``round`` (np.round would bank-round .5 to even)."""
    s = v * quant
    return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)


def _quantized_tiles(pdf: pd.DataFrame, quant: float, flat: bool = False):
    """(tile row, int64 pixels) for each row of one Arrow batch of a
    tile table: the one place a map-side kernel unpacks ``px`` and
    quantises it (:func:`quantize_half_away`).  Pixels come shaped
    (h, w), or flat for a batch that carries ``px`` alone."""
    for t in pdf.itertuples():
        v = np.asarray(t.px, dtype=np.float64)
        yield t, quantize_half_away(
            v if flat else v.reshape(int(t.h), int(t.w)), quant
        )


def _halo_parts(tiles: DataFrame, grid: GridSpec, quant: float) -> DataFrame:
    """Core + 1-px border strips per tile (the halo exchange's map
    side), shared by every focal-family operator: <= 9 parts per tile,
    values quantised int64 on the producer."""
    tile_px = grid.tile_px
    n_tx, n_ty = grid.n_tiles_x, grid.n_tiles_y

    part_schema = (
        "dtx long, dty long, ix0 long, iy0 long, pw long, ph long, "
        "vals array<long>"
    )

    def emit_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for t, arr in _quantized_tiles(pdf, quant):
                h, w = arr.shape
                tx, ty = int(t.tx), int(t.ty)
                gx0, gy0 = tx * tile_px, ty * tile_px
                # core: the whole tile to itself
                rows.append(
                    {"dtx": tx, "dty": ty, "ix0": gx0, "iy0": gy0,
                     "pw": w, "ph": h, "vals": arr.ravel().tolist()}
                )
                # strips: 1-px slabs to each existing neighbour
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dx == 0 and dy == 0:
                            continue
                        ntx, nty = tx + dx, ty + dy
                        if not (0 <= ntx < n_tx and 0 <= nty < n_ty):
                            continue
                        sx = slice(0, w) if dx == 0 else (
                            slice(w - 1, w) if dx > 0 else slice(0, 1)
                        )
                        sy = slice(0, h) if dy == 0 else (
                            slice(h - 1, h) if dy > 0 else slice(0, 1)
                        )
                        sub = arr[sy, sx]
                        rows.append(
                            {"dtx": ntx, "dty": nty,
                             "ix0": gx0 + sx.start, "iy0": gy0 + sy.start,
                             "pw": sub.shape[1], "ph": sub.shape[0],
                             "vals": sub.ravel().tolist()}
                        )
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(emit_parts, schema=part_schema)


def _assemble_canvas(kdf: pd.DataFrame, grid: GridSpec):
    """(tx, ty, canvas, mask, w, h) from one tile's gathered parts."""
    tile_px = grid.tile_px
    tx, ty = int(kdf["dtx"].iloc[0]), int(kdf["dty"].iloc[0])
    gx0, gy0 = tx * tile_px, ty * tile_px
    w = min(tile_px, grid.npx_x - gx0)
    h = min(tile_px, grid.npx_y - gy0)
    canvas = np.zeros((h + 2, w + 2), dtype=np.int64)
    mask = np.zeros((h + 2, w + 2), dtype=np.int64)
    for p in kdf.itertuples():
        pw, ph = int(p.pw), int(p.ph)
        sub = np.asarray(p.vals, dtype=np.int64).reshape(ph, pw)
        ox = int(p.ix0) - gx0 + 1
        oy = int(p.iy0) - gy0 + 1
        canvas[oy:oy + ph, ox:ox + pw] = sub
        mask[oy:oy + ph, ox:ox + pw] = 1
    return tx, ty, canvas, mask, w, h


def _halo_stats(
    tiles: DataFrame, grid: GridSpec, quant: float, schema: str, stencil
) -> DataFrame:
    """The halo exchange of every focal operator: ``_halo_parts``, one
    tile-keyed ``applyInPandas`` that assembles each padded canvas, and
    ``stencil(canvas, mask, w, h, tx, ty)``.  The stencil returns its
    output columns as a dict of scalars (one row per tile) or of
    equal-length arrays (histogram rows); ``schema`` types them, and
    the scaffold prepends ``tx, ty``."""

    def assemble(kdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty, canvas, mask, w, h = _assemble_canvas(kdf, grid)
        cols = stencil(canvas, mask, w, h, tx, ty)
        return pd.DataFrame(
            {"tx": tx, "ty": ty,
             **{k: np.atleast_1d(v) for k, v in cols.items()}}
        )

    parts = _halo_parts(tiles, grid, quant)
    return parts.groupBy("dtx", "dty").applyInPandas(
        assemble, schema=f"tx long, ty long, {schema}"
    )


def _box3(a: np.ndarray, w: int, h: int) -> np.ndarray:
    """Exact int64 sum of each pixel's 3×3 window of a padded canvas
    (a bool canvas counts its True cells)."""
    out = np.zeros((h, w), dtype=np.int64)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            out += a[dy:dy + h, dx:dx + w]
    return out


def _interior(mask: np.ndarray, w: int, h: int) -> np.ndarray:
    """Pixels whose whole 3×3 window lies in the raster — after the
    cross-tile halos, everything but the raster border."""
    return _box3(mask, w, h) == 9


def _horn(c: np.ndarray, w: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Horn's gradient numerators (nx, ny) of every pixel, exact int64:

        nx = (z_ne + 2 z_e + z_se) − (z_nw + 2 z_w + z_sw)
        ny = (z_sw + 2 z_s + z_se) − (z_nw + 2 z_n + z_ne)
    """
    nx = (
        (c[0:h, 2:w + 2] + 2 * c[1:h + 1, 2:w + 2] + c[2:h + 2, 2:w + 2])
        - (c[0:h, 0:w] + 2 * c[1:h + 1, 0:w] + c[2:h + 2, 0:w])
    )
    ny = (
        (c[2:h + 2, 0:w] + 2 * c[2:h + 2, 1:w + 1] + c[2:h + 2, 2:w + 2])
        - (c[0:h, 0:w] + 2 * c[0:h, 1:w + 1] + c[0:h, 2:w + 2])
    )
    return nx, ny


def focal_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
) -> DataFrame:
    """[tx, ty, n_px, tot_focal, min_focal, max_focal, tile_mean] —
    per-tile summary of the 3x3 focal surface over a quantised tile
    raster.

    Per pixel: ``focal_sum`` = exact int64 sum of the <=9 in-raster
    neighbours (edge pixels see fewer — the neighbour count divides,
    GDAL/ArcGIS edge semantics).  The per-tile outputs are all exact
    integers (total / min / max of focal sums, total neighbour count)
    plus ``tile_mean = tot_focal / tot_cnt / quant`` round-6 — the one
    FP step, evaluated in Catalyst so it is the same division+round
    chain the oracle runs.  Raster-sized results stay on the
    executors; only tile-count rows return.
    """
    def stencil(canvas, mask, w, h, tx, ty):
        fsum = _box3(canvas, w, h)
        return {
            "n_px": int(h * w), "tot_focal": int(fsum.sum()),
            "tot_cnt": int(_box3(mask, w, h).sum()),
            "min_focal": int(fsum.min()), "max_focal": int(fsum.max()),
        }

    stats = _halo_stats(
        tiles, grid, quant,
        "n_px long, tot_focal long, tot_cnt long, min_focal long, "
        "max_focal long",
        stencil,
    )
    # the ONE floating-point step happens in Catalyst (not NumPy) so the
    # division + round-6 chain is the same engine pair the whole gate uses
    return stats.select(
        "tx", "ty", "n_px", "tot_focal", "min_focal", "max_focal",
        F.round(
            F.col("tot_focal").cast("double")
            / F.col("tot_cnt").cast("double")
            / F.lit(float(quant)),
            6,
        ).alias("tile_mean"),
    )


def slope_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    steep_rise_run: float = 0.01,
) -> DataFrame:
    """[tx, ty, n_interior, n_steep, max_rr2, max_rise_run] — Horn-
    method surface gradient per tile (gdaldem-slope semantics, the
    standard DSM derivative) over the SAME halo exchange as
    ``focal_tile_stats``:

        nx = (z_ne + 2 z_e + z_se) − (z_nw + 2 z_w + z_sw)
        ny = (z_sw + 2 z_s + z_se) − (z_nw + 2 z_n + z_ne)
        rise/run = sqrt(nx² + ny²) / (8 · res · quant)

    Only INTERIOR pixels (full 3x3 neighbourhood after cross-tile
    halos — i.e. everything but the raster border) contribute.  nx, ny
    and rr2 = nx²+ny² are exact int64 on quantised values;
    ``n_steep`` counts pixels with rr2 strictly above the squared
    integer threshold (exact compare, no FP), and the single FP step —
    sqrt(max_rr2)/(8·res·quant), round-6 — runs in Catalyst so it is
    the same chain the oracle evaluates.
    """
    thr = int(round(steep_rise_run * 8.0 * grid.res * quant))
    thr2 = thr * thr

    def stencil(canvas, mask, w, h, tx, ty):
        full = _interior(mask, w, h)
        nx, ny = _horn(canvas, w, h)
        rr2_in = (nx * nx + ny * ny)[full]
        n_int = int(full.sum())
        return {
            "n_interior": n_int,
            "n_steep": int((rr2_in > thr2).sum()) if n_int else 0,
            "max_rr2": int(rr2_in.max()) if n_int else 0,
        }

    stats = _halo_stats(
        tiles, grid, quant, "n_interior long, n_steep long, max_rr2 long",
        stencil,
    )
    denom = 8.0 * grid.res * quant
    return stats.select(
        "tx", "ty", "n_interior", "n_steep", "max_rr2",
        F.round(
            F.sqrt(F.col("max_rr2").cast("double")) / F.lit(denom), 6
        ).alias("max_rise_run"),
    )


def hillshade_constants(
    res: float,
    quant: float,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
) -> tuple[float, float, float, float]:
    """(C0, LX, LY, D2) — the four double constants of the trig-free
    hillshade chain, computed ONCE on the driver so both engines see
    the identical literals (repr round-trips doubles exactly).

    Light unit vector for sun azimuth ``az`` (clockwise from grid
    north = +y) at ``alt`` above the horizon:
    ``L = (cos(alt)·sin(az), cos(alt)·cos(az), sin(alt))``; the surface
    normal from quantised Horn gradients (nx, ny int64, denominator
    ``D = 8·res·quant``) is ``(−nx, −ny, D)/‖·‖``, so

        hs = 255 · max(0, (C0 − LX·nx − LY·ny) / sqrt(D² + nx² + ny²))

    with ``C0 = Lz·D``.  Every per-pixel op is a correctly-rounded
    IEEE-754 primitive (*, −, +, /, sqrt, max, floor) in a FIXED
    association order — no libm transcendental runs per pixel, so
    NumPy, Catalyst and DuckDB produce bit-identical doubles and the
    rounded int hillshade is engine-portable (the project-wide
    portability contract; trig happens only here, on four scalars).
    """
    import math

    z = math.radians(90.0 - altitude_deg)
    az = math.radians(azimuth_deg)
    d = 8.0 * res * quant
    lx = math.sin(z) * math.sin(az)
    ly = math.sin(z) * math.cos(az)
    c0 = math.cos(z) * d
    return c0, lx, ly, d * d


def hillshade_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
) -> DataFrame:
    """[tx, ty, n_interior, sum_hs, min_hs, max_hs, mean_hs] —
    Lambertian hillshade (gdaldem-hillshade semantics: Horn gradients,
    255 grey levels, sun at ``azimuth/altitude``) per tile over the
    SAME halo exchange as ``slope_tile_stats``.

    Per interior pixel: nx/ny exact int64, then the trig-free chain of
    ``hillshade_constants`` evaluated in NumPy in the documented
    association order and rounded half-up to an int grey level —
    bit-portable because only correctly-rounded IEEE primitives run
    per pixel.  Per-tile sum/min/max of the int grey levels are exact;
    the one remaining division (mean_hs) runs in Catalyst.

    The reference shades nothing itself (it plots rasters via
    matplotlib, e.g. GreenExp/visibility.py:214-231); this is the
    standard DSM-derivative companion to the Horn slope the viewshed
    family needs, kept tile-local so 100 TB of raster never leaves the
    executors — O(perimeter) halo traffic, one tile-keyed shuffle.
    """
    c0, lx, ly, d2 = hillshade_constants(
        grid.res, quant, azimuth_deg, altitude_deg
    )

    def stencil(canvas, mask, w, h, tx, ty):
        full = _interior(mask, w, h)
        nx, ny = _horn(canvas, w, h)
        dnx = nx[full].astype(np.float64)
        dny = ny[full].astype(np.float64)
        n_int = int(full.sum())
        if not n_int:
            return {"n_interior": 0, "sum_hs": 0, "min_hs": 0, "max_hs": 0}
        # fixed association order — mirrored verbatim in the oracle SQL
        num = (c0 - lx * dnx) - ly * dny
        den = np.sqrt((d2 + dnx * dnx) + dny * dny)
        hs = np.floor(np.maximum(255.0 * (num / den), 0.0) + 0.5).astype(
            np.int64
        )
        return {
            "n_interior": n_int, "sum_hs": int(hs.sum()),
            "min_hs": int(hs.min()), "max_hs": int(hs.max()),
        }

    stats = _halo_stats(
        tiles, grid, quant,
        "n_interior long, sum_hs long, min_hs long, max_hs long", stencil,
    )
    return stats.select(
        "tx", "ty", "n_interior", "sum_hs", "min_hs", "max_hs",
        F.round(
            F.col("sum_hs").cast("double")
            / F.col("n_interior").cast("double"),
            6,
        ).alias("mean_hs"),
    )


# D8 directions in ESRI code-ascending order: (code, dx, dy, weight),
# weight 2 for a cardinal and 1 for a diagonal neighbour — the
# exact-integer comparator key dz²·weight of flow_direction_counts here
# and of hydro.d8_downstream on the macro grid.  dy is in GRID axis
# orientation (iy grows northwards in the fixture), so "S" here means
# iy−1; the codes are a fixed enumeration, not a compass claim.
D8_DIRS = (
    (1, 1, 0, 2), (2, 1, 1, 1), (4, 0, 1, 2), (8, -1, 1, 1),
    (16, -1, 0, 2), (32, -1, -1, 1), (64, 0, -1, 2), (128, 1, -1, 1),
)


def flow_direction_counts(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
) -> DataFrame:
    """[tx, ty, code, n_px] — D8 steepest-descent flow direction
    histogram per tile (the hydrology primitive under flow
    accumulation / watershed delineation), exact-integer end to end.

    Per interior pixel the drop to neighbour i is
    ``dz_i / dist_i`` with ``dist ∈ {res, res·√2}``; comparing
    ``dz_a/1`` against ``dz_b/√2`` for positive drops is the exact
    int64 compare ``2·dz_a² > dz_b²`` (a cardinal and a diagonal can
    never tie at dz>0 — ``2a² = b²`` has no nonzero integer solutions),
    so no FP enters the argmax.  Equal-geometry ties break by ESRI
    code ascending; pixels with no strictly positive drop get code 0
    (flat/pit).  One halo exchange, one tile-keyed shuffle, ≤ 9 rows
    per tile out.
    """
    def stencil(canvas, mask, w, h, tx, ty):
        z = canvas[1:h + 1, 1:w + 1]
        best_key = np.full((h, w), -1, dtype=np.int64)
        best_code = np.zeros((h, w), dtype=np.int64)
        for code, dx, dy, weight in D8_DIRS:
            nb = canvas[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
            dz = z - nb
            key = dz * dz * weight
            key = np.where(dz > 0, key, np.int64(-1))
            upd = key > best_key  # strict: earlier (smaller) code wins ties
            best_key = np.where(upd, key, best_key)
            best_code = np.where(upd, code, best_code)
        codes, counts = np.unique(
            best_code[_interior(mask, w, h)], return_counts=True
        )
        return {"code": codes.astype(np.int64), "n_px": counts.astype(np.int64)}

    return _halo_stats(tiles, grid, quant, "code long, n_px long", stencil)


# 45°-wide aspect octants with bin edges at exact multiples of 45° —
# every boundary test is an int64 sign/magnitude compare (edges at
# 22.5° would need tan(22.5°), an irrational; these need none).  Bin k
# covers descent azimuth [45k, 45(k+1)) measured counter-clockwise
# from +x in GRID axes (iy grows north in the fixture).  The (cond,
# code) rows are DISJOINT and EXHAUSTIVE over (u,v) != (0,0), so CASE
# order does not matter and np.select / SQL CASE agree bit-for-bit.
# Shared by the NumPy kernel and the SQL oracle via octant_case_sql.
_OCTANT_RULES = (
    ("u > 0 AND v >= 0 AND v < u", 0),     # [0, 45)
    ("u > 0 AND v >= u", 1),               # [45, 90)
    ("u <= 0 AND v > 0 AND v > -u", 2),    # [90, 135)
    ("u < 0 AND v > 0 AND v <= -u", 3),    # [135, 180)
    ("u < 0 AND v <= 0 AND v > u", 4),     # [180, 225)
    ("u < 0 AND v <= u", 5),               # [225, 270)
    ("u >= 0 AND v < 0 AND -v > u", 6),    # [270, 315)
    ("u > 0 AND v < 0 AND -v <= u", 7),    # [315, 360)
)


def octant_case_sql(u_expr: str, v_expr: str) -> str:
    """SQL CASE selecting the 45° octant of vector (u, v) — flat
    (0,0) maps to -1.  Renders _OCTANT_RULES so the oracle cannot
    drift from the NumPy kernel."""
    def subst(cond: str) -> str:
        # two-pass via a sentinel so an operand expression containing
        # the letter "u"/"v" can never be re-substituted
        return (
            cond.replace("u", "\x00").replace("v", f"({v_expr})")
            .replace("\x00", f"({u_expr})")
        )

    whens = "\n".join(
        f"  WHEN {subst(cond)} THEN {code}" for cond, code in _OCTANT_RULES
    )
    return (
        f"CASE WHEN ({u_expr}) = 0 AND ({v_expr}) = 0 THEN -1\n{whens}\n"
        "  ELSE -2 END"
    )


def _octant_of(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """NumPy twin of octant_case_sql: int64 octant codes, -1 = flat."""
    conds = [(u == 0) & (v == 0)]
    codes = [-1]
    for cond, code in _OCTANT_RULES:
        m = np.ones(u.shape, dtype=bool)
        for term in cond.split(" AND "):
            # each term is ONE comparison ("v < u", "-v > u") — no
            # precedence pitfalls; the rule table stays authoritative
            m &= eval(term, {"u": u, "v": v})  # noqa: S307 - literal table
        conds.append(m)
        codes.append(code)
    return np.select(conds, codes, default=-2).astype(np.int64)


def aspect_octant_counts(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
) -> DataFrame:
    """[tx, ty, octant, n_px] — aspect (steepest-DESCENT direction)
    histogram per tile in eight 45° octants, gdaldem-aspect's binned
    companion, exact-integer end to end.

    The descent vector is (u, v) = (-nx, -ny) from the Horn gradients
    of ``slope_tile_stats`` (exact int64 on quantised pixels); the
    octant is a pure sign/magnitude decision tree (_OCTANT_RULES) with
    bin edges on exact 45° multiples, so no trig — and no FP at all —
    executes anywhere.  Flat pixels (nx = ny = 0) report octant -1.
    One halo exchange, one tile-keyed shuffle, <= 9 rows per tile out.
    """
    def stencil(canvas, mask, w, h, tx, ty):
        full = _interior(mask, w, h)
        nx, ny = _horn(canvas, w, h)
        codes, counts = np.unique(
            _octant_of(-nx[full], -ny[full]), return_counts=True
        )
        return {
            "octant": codes.astype(np.int64), "n_px": counts.astype(np.int64),
        }

    return _halo_stats(tiles, grid, quant, "octant long, n_px long", stencil)


def ruggedness_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
) -> DataFrame:
    """[tx, ty, n_interior, n_ridge, sum_tri, max_tri, max_rough,
    mean_tri] — the Wilson/Riley terrain-texture triple per tile,
    exact-integer per pixel:

      * TPI (topographic position index), kept as the integer
        ``tpi8 = 8·z − Σ(8 neighbours)`` (×8 avoids the /8 division);
        ``n_ridge`` counts pixels strictly above their neighbourhood
        mean (tpi8 > 0).
      * TRI (terrain ruggedness index) ``tri = Σ|z − nb|`` — summed
        and maxed exactly per tile.
      * roughness ``= max − min`` of the 3×3 window, maxed per tile.

    The one FP step (mean_tri = sum_tri / n / quant, round-6) runs in
    Catalyst.  Same halo exchange, same single tile-keyed shuffle as
    the rest of the focal family; interior-pixel semantics match
    slope_tile_stats.
    """
    def stencil(canvas, mask, w, h, tx, ty):
        full = _interior(mask, w, h)
        z = canvas[1:h + 1, 1:w + 1]
        tpi8 = 8 * z.copy()
        tri = np.zeros((h, w), dtype=np.int64)
        wmax = z.copy()
        wmin = z.copy()
        for dy in (0, 1, 2):
            for dx in (0, 1, 2):
                if dx == 1 and dy == 1:
                    continue
                nb = canvas[dy:dy + h, dx:dx + w]
                tpi8 -= nb
                tri += np.abs(z - nb)
                np.maximum(wmax, nb, out=wmax)
                np.minimum(wmin, nb, out=wmin)
        n_int = int(full.sum())
        if not n_int:
            return {"n_interior": 0, "n_ridge": 0, "sum_tri": 0,
                    "max_tri": 0, "max_rough": 0}
        return {
            "n_interior": n_int,
            "n_ridge": int((tpi8[full] > 0).sum()),
            "sum_tri": int(tri[full].sum()),
            "max_tri": int(tri[full].max()),
            "max_rough": int((wmax - wmin)[full].max()),
        }

    stats = _halo_stats(
        tiles, grid, quant,
        "n_interior long, n_ridge long, sum_tri long, max_tri long, "
        "max_rough long",
        stencil,
    )
    return stats.select(
        "tx", "ty", "n_interior", "n_ridge", "sum_tri", "max_tri",
        "max_rough",
        F.round(
            F.col("sum_tri").cast("double")
            / F.col("n_interior").cast("double")
            / F.lit(float(quant)),
            6,
        ).alias("mean_tri"),
    )


def euler_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    threshold_q: int = 0,
) -> DataFrame:
    """[tx, ty, n_green, c1, c3, cd, euler_term] — Gray's-algorithm
    quad counts of the greenness mask (quantised value strictly above
    ``threshold_q``) per tile; globally,

        4-connectivity Euler number (#components − #holes)
          = Σ euler_term / 4,   euler_term = c1 − c3 + 2·cd

    where over every 2×2 window of the zero-padded mask c1/c3 count
    windows with exactly one/three foreground pixels and cd counts the
    two diagonal patterns.  The Euler number is the only patch-count
    statistic that is PERFECTLY distributive over tiles — each window
    is owned by exactly one tile (the tile of its bottom-right pixel,
    clamped at the raster edge so border-padding windows are owned
    too), so patch topology over 100 TB of raster needs one halo
    exchange and integer partial sums, never a global label-merge.
    scikit-image ``euler_number`` semantics; all counts exact int64.
    """
    n_tx, n_ty = grid.n_tiles_x, grid.n_tiles_y

    def stencil(canvas, mask, w, h, tx, ty):
        m = (canvas > threshold_q).astype(np.int64)  # halo/out-of-raster = 0
        # windows whose top-left CANVAS coord is (cx, cy): bottom-right
        # pixel is global (gx0-1+cx+1, gy0-1+cy+1) — in-tile for
        # cx in [0, w-1]; the raster-edge tiles also own the padding
        # column/row of windows hanging past the last pixel
        ex = w + (1 if tx == n_tx - 1 else 0)
        ey = h + (1 if ty == n_ty - 1 else 0)
        a = m[0:ey, 0:ex]
        b = m[0:ey, 1:ex + 1]
        c = m[1:ey + 1, 0:ex]
        d = m[1:ey + 1, 1:ex + 1]
        s = a + b + c + d
        cd = int((((a == 1) & (d == 1) & (s == 2)).sum())
                 + (((b == 1) & (c == 1) & (s == 2)).sum()))
        return {
            "n_green": int(m[1:h + 1, 1:w + 1].sum()),
            "c1": int((s == 1).sum()), "c3": int((s == 3).sum()), "cd": cd,
        }

    stats = _halo_stats(
        tiles, grid, quant, "n_green long, c1 long, c3 long, cd long", stencil
    )
    return stats.select(
        "tx", "ty", "n_green", "c1", "c3", "cd",
        (F.col("c1") - F.col("c3") + 2 * F.col("cd")).alias("euler_term"),
    )


def edge_density_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    threshold_q: int = 0,
) -> DataFrame:
    """[tx, ty, h_edges, v_edges, n_edges, perim_m] — green-mask
    boundary length per tile: the count of 4-adjacent (foreground,
    background) pixel pairs, zero-padded at the raster border, times
    the pixel size.  With ``n_green`` (area) and the Euler number
    (``euler_tile_stats``) this completes the FRAGSTATS core triple —
    area / perimeter / patch topology — every term distributive over
    tiles: each adjacency is owned by exactly one tile (the tile of
    its right/upper pixel, clamped at the raster edge), so landscape
    fragmentation over 100 TB of raster is one halo exchange and
    integer partial sums.  Counts exact int64; the single multiply by
    ``res`` runs in Catalyst.
    """
    n_tx, n_ty = grid.n_tiles_x, grid.n_tiles_y

    def stencil(canvas, mask, w, h, tx, ty):
        m = (canvas > threshold_q).astype(np.int64)
        ex = w + (1 if tx == n_tx - 1 else 0)
        ey = h + (1 if ty == n_ty - 1 else 0)
        # horizontal pairs: left pixel at canvas cx in [0, ex-1], rows
        # are this tile's real rows (cy in [1, h])
        hl = m[1:h + 1, 0:ex]
        hr = m[1:h + 1, 1:ex + 1]
        # vertical pairs: lower pixel at canvas cy in [0, ey-1]
        vl = m[0:ey, 1:w + 1]
        vu = m[1:ey + 1, 1:w + 1]
        return {
            "h_edges": int((hl != hr).sum()), "v_edges": int((vl != vu).sum()),
        }

    stats = _halo_stats(
        tiles, grid, quant, "h_edges long, v_edges long", stencil
    )
    return stats.select(
        "tx", "ty", "h_edges", "v_edges",
        (F.col("h_edges") + F.col("v_edges")).alias("n_edges"),
        F.round(
            (F.col("h_edges") + F.col("v_edges")).cast("double")
            * F.lit(float(grid.res)),
            6,
        ).alias("perim_m"),
    )


def majority_tile_counts(
    tiles: DataFrame,
    grid: GridSpec,
    class_values: list[int],
    quant: float = 1.0,
) -> DataFrame:
    """[tx, ty, mode_class, n_px] — 3×3 focal MAJORITY (modal) filter
    over a categorical raster, histogrammed per tile: the standard
    landcover smoothing pass (ArcGIS Focal Statistics MAJORITY /
    GRASS r.neighbors mode) that removes salt-and-pepper
    classification noise before zonal stats.

    Per pixel the mode of the <= 9 in-raster window classes; ties
    break to the SMALLEST class code (deterministic, engine-portable —
    ArcGIS's NODATA-on-tie would erase data).  Edge pixels see fewer
    neighbours (GDAL edge semantics, same as focal_tile_stats).
    ``class_values`` is the categorical domain (a dim-sized list, e.g.
    a landcover legend — passed explicitly, operators never import
    fixtures); counts are exact integers end to end, so there is no
    FP anywhere.  Same single halo exchange as the rest of the family.
    """
    classes = sorted(int(c) for c in class_values)

    def stencil(canvas, mask, w, h, tx, ty):
        best_cnt = np.zeros((h, w), dtype=np.int64)
        best_cls = np.full((h, w), np.int64(classes[0]), dtype=np.int64)
        for cls in classes:  # ascending: strict > keeps the smallest on tie
            cnt = _box3((canvas == cls) & (mask == 1), w, h)
            upd = cnt > best_cnt
            best_cnt = np.where(upd, cnt, best_cnt)
            best_cls = np.where(upd, cls, best_cls)
        codes, counts = np.unique(best_cls, return_counts=True)
        return {
            "mode_class": codes.astype(np.int64),
            "n_px": counts.astype(np.int64),
        }

    return _halo_stats(
        tiles, grid, quant, "mode_class long, n_px long", stencil
    )


def marching_squares_counts(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    threshold_q: int = 0,
) -> DataFrame:
    """[tx, ty, case_id, n_win] — marching-squares contour-cell
    classification of the iso-level ``threshold_q`` (on quantised
    values, strictly greater = inside): the contour-extraction
    primitive (Lorensen & Cline's 2-D case) counted per 16-way case.

    Windows sit between pixel CENTERS (corners = 4 adjacent pixels,
    bit0 = lower-left … bit3 = upper-right); only interior windows with
    all four corners in-raster classify, and each window is owned by
    exactly one tile (its lower-left pixel's), so the case histogram —
    and with :data:`MS_SEGMENTS` the total contour-segment count — is
    perfectly distributive over tiles: one halo exchange, integer
    counts, no global stitching.  The threshold compare runs on exact
    int64 quantised values, so an engine pair can never disagree about
    which side of the iso-level a pixel falls."""
    def stencil(canvas, mask, w, h, tx, ty):
        m = canvas > threshold_q
        ok = mask == 1
        valid = (
            ok[1:h + 1, 1:w + 1] & ok[1:h + 1, 2:w + 2]
            & ok[2:h + 2, 1:w + 1] & ok[2:h + 2, 2:w + 2]
        )
        case = (
            m[1:h + 1, 1:w + 1].astype(np.int64)
            + 2 * m[1:h + 1, 2:w + 2]
            + 4 * m[2:h + 2, 1:w + 1]
            + 8 * m[2:h + 2, 2:w + 2]
        )
        codes, counts = np.unique(case[valid], return_counts=True)
        return {
            "case_id": codes.astype(np.int64), "n_win": counts.astype(np.int64),
        }

    return _halo_stats(tiles, grid, quant, "case_id long, n_win long", stencil)


def pyramid_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    levels: int = 2,
    quant: float = 1e6,
) -> DataFrame:
    """[level, tx, ty, n_px, tot_q, min_pool, max_pool, level_mean] —
    overview-pyramid construction (COG/ZYX overview semantics): level-L
    pixels are EXACT integer sums of their 2^L x 2^L base block, so
    pooling conserves mass (tot_q is level-invariant per tile — the
    gate's conservation property) while min/max genuinely coarsen.

    Requires tile origins and dims divisible by 2^levels (the fixture's
    256-px tiles with a 232-px remainder satisfy it for levels<=2), so
    per-tile pooling equals global pooling with NO halo exchange —
    zero shuffles: one mapInPandas emits every level's stats straight
    from the tile, and the single FP step (mean de-quantization) runs
    in Catalyst.
    """
    for lv in range(1, levels + 1):
        step = 1 << lv
        if grid.tile_px % step:
            raise ValueError("tile_px must divide by 2^levels")

    out_schema = (
        "level long, tx long, ty long, n_px long, tot_q long, "
        "min_pool long, max_pool long"
    )

    def emit(batches):
        for pdf in batches:
            rows = []
            for t, cur in _quantized_tiles(pdf, quant):
                for lv in range(1, levels + 1):
                    hh, ww = cur.shape
                    cur = cur.reshape(hh // 2, 2, ww // 2, 2).sum(axis=(1, 3))
                    rows.append(
                        {
                            "level": lv, "tx": int(t.tx), "ty": int(t.ty),
                            "n_px": int(cur.size),
                            "tot_q": int(cur.sum()),
                            "min_pool": int(cur.min()),
                            "max_pool": int(cur.max()),
                        }
                    )
            yield pd.DataFrame(rows)

    stats = tiles.mapInPandas(emit, schema=out_schema)
    denom = F.col("n_px").cast("double") * F.pow(
        F.lit(4.0), F.col("level").cast("double")
    ) * F.lit(float(quant))
    return stats.withColumn(
        "level_mean", F.round(F.col("tot_q").cast("double") / denom, 6)
    )


def curvature_class_counts(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e5,
) -> DataFrame:
    """[tx, ty, n_interior, n_flat, n_prof_pos, n_prof_neg, n_plan_pos,
    n_plan_neg] — Zevenbergen–Thorne (1987) profile/plan curvature
    LANDFORM CLASSIFICATION per tile over the same halo exchange as
    ``slope_tile_stats``.

    With z(dx,dy) the quantised elevation at the 3×3 offsets, the ZT
    quadric coefficients reduce (up to the positive scale 16·L⁴·q³ and
    the positive denominator G²+H²) to the INTEGER numerators

        P  = 4·d·g² + 4·e·h² + f·g·h      (∝ profile curvature)
        PL = 4·d·h² + 4·e·g² − f·g·h      (∝ plan curvature)

    where d = z(−1,0)+z(1,0)−2z₀, e = z(0,−1)+z(0,1)−2z₀,
    g = z(1,0)−z(−1,0), h = z(0,1)−z(0,−1) and
    f = −z(−1,−1)+z(1,−1)+z(−1,1)−z(1,1).  Both classifications are
    therefore exact integer SIGN tests — no FP ever happens; pixels
    with zero gradient (g = h = 0, curvature undefined) are counted as
    ``n_flat`` and excluded from the four signed classes, and
    zero-numerator pixels fall in neither signed class.  Sign
    convention: P > 0 ⇔ D G² + E H² + F G H > 0 (concave along the
    slope line in ZT's orientation); callers wanting the ESRI-negated
    convention flip the labels.

    int64 envelope: |terms| ≤ 12·(4·quant)³ — safe through quant 1e5
    (≈ 8e17).  Interior-only like every halo operator; one tile-keyed
    shuffle, ≤ 1 row per tile out.
    """
    def stencil(canvas, mask, w, h, tx, ty):
        full = _interior(mask, w, h)

        def z(dx: int, dy: int) -> np.ndarray:
            return canvas[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]

        z0 = z(0, 0)
        d = z(-1, 0) + z(1, 0) - 2 * z0
        e = z(0, -1) + z(0, 1) - 2 * z0
        g = z(1, 0) - z(-1, 0)
        hh = z(0, 1) - z(0, -1)
        f = -z(-1, -1) + z(1, -1) + z(-1, 1) - z(1, 1)
        p = 4 * d * g * g + 4 * e * hh * hh + f * g * hh
        pl = 4 * d * hh * hh + 4 * e * g * g - f * g * hh
        flat = (g == 0) & (hh == 0)
        live = full & ~flat
        return {
            "n_interior": int(full.sum()),
            "n_flat": int((full & flat).sum()),
            "n_prof_pos": int((live & (p > 0)).sum()),
            "n_prof_neg": int((live & (p < 0)).sum()),
            "n_plan_pos": int((live & (pl > 0)).sum()),
            "n_plan_neg": int((live & (pl < 0)).sum()),
        }

    return _halo_stats(
        tiles, grid, quant,
        "n_interior long, n_flat long, n_prof_pos long, n_prof_neg long, "
        "n_plan_pos long, n_plan_neg long",
        stencil,
    )


def core_area_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    threshold_q: int = 0,
) -> DataFrame:
    """[tx, ty, n_mask, n_core, core_pct] — FRAGSTATS core-area metric
    per tile: a CORE pixel is a mask pixel (quantised value strictly
    above ``threshold_q``) whose eight neighbours are all mask too —
    i.e. one round of 3×3 morphological EROSION, the edge-depth-1
    interior that actually functions as habitat / cool refuge in the
    landscape-ecology reading of greenness (beside euler_tile_stats'
    topology and edge_density_tile_stats' perimeter).

    Out-of-raster neighbours count as background (zero-padded canvas),
    so raster-border pixels are never core — the same convention as
    the quad counters.  One halo exchange, per-tile NumPy erosion (the
    AND of nine shifted views), exact integer counts; core_pct is one
    division + round-6 (NULL where the tile has no mask)."""
    def stencil(canvas, mask, w, h, tx, ty):
        m = canvas > threshold_q
        return {
            "n_mask": int(m[1:h + 1, 1:w + 1].sum()),
            "n_core": int((_box3(m, w, h) == 9).sum()),
        }

    stats = _halo_stats(tiles, grid, quant, "n_mask long, n_core long", stencil)
    return stats.select(
        "tx", "ty", "n_mask", "n_core",
        F.when(
            F.col("n_mask") > 0,
            F.round(
                F.col("n_core").cast("double") / F.col("n_mask").cast("double"),
                6,
            ),
        ).alias("core_pct"),
    )


def cell_value_sums(
    tiles: DataFrame,
    grid: GridSpec,
    cell_px: int = 10,
    quant: float = 1e4,
) -> DataFrame:
    """[gx, gy, vsum_q, n_px] — exact quantized raster-value sums per
    join-grid cell (cell = ``cell_px`` × ``cell_px`` pixels): the
    raster side of raster×vector ecological joins, e.g. correlating
    per-cell greenness against per-cell document statistics.

    Cells need not align with tile boundaries: each tile emits exact
    int64 PARTIAL sums keyed by (gx, gy) and one groupBy adds the
    straddle pieces — no halo exchange (sums are distributive), one
    shuffle whose size is the cell count, not the pixel count.  Pixel
    values are round-half-away quantized to int64 on the engine's
    shared convention (`quantize_half_away` = SQL ``round``)."""
    out_schema = "gx long, gy long, vsum_q long, n_px long"
    tile_px = grid.tile_px

    def emit(batches):
        for pdf in batches:
            rows = []
            for t, q in _quantized_tiles(pdf, quant):
                h, w = q.shape
                ix = int(t.tx) * tile_px + np.arange(w)
                iy = int(t.ty) * tile_px + np.arange(h)
                gx = ix // cell_px
                gy = iy // cell_px
                key = (gy[:, None].astype(np.int64) * (1 << 32)
                       + gx[None, :]).ravel()
                uk, inv = np.unique(key, return_inverse=True)
                sums = np.zeros(len(uk), dtype=np.int64)
                np.add.at(sums, inv, q.ravel())
                cnts = np.bincount(inv, minlength=len(uk)).astype(np.int64)
                rows.append(
                    pd.DataFrame(
                        {
                            "gx": uk & ((1 << 32) - 1),
                            "gy": uk >> 32,
                            "vsum_q": sums,
                            "n_px": cnts,
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    parts = tiles.mapInPandas(emit, schema=out_schema)
    return parts.groupBy("gx", "gy").agg(
        F.sum("vsum_q").cast("long").alias("vsum_q"),
        F.sum("n_px").cast("long").alias("n_px"),
    )


def haar_energy_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
) -> DataFrame:
    """[tx, ty, n_blocks, e_h, e_v, e_d] — level-1 Haar wavelet detail
    energies per tile: for every 2×2 pixel block with quantized int64
    values (a b / c d), the un-normalized detail coefficients
    H = a−b+c−d (horizontal), V = a+b−c−d (vertical), D = a−b−c+d
    (diagonal), each band's energy Σcoeff² summed exactly — the
    texture/compressibility audit (how much signal survives a 2×
    downsample?) that complements `pyramid_tile_stats`' mass
    conservation.  Everything is integer arithmetic on the shared
    round-half-away quantization, so the energies are engine-exact;
    tile dims must be even (the fixture's 256/232 tiles are), so NO
    halo exchange and zero shuffles — one mapInPandas emits per-tile
    rows."""
    out_schema = "tx long, ty long, n_blocks long, e_h long, e_v long, e_d long"

    def emit(batches):
        for pdf in batches:
            rows = []
            for t, q in _quantized_tiles(pdf, quant):
                if q.shape[0] % 2 or q.shape[1] % 2:
                    raise ValueError("haar level-1 needs even tile dims")
                a = q[0::2, 0::2]
                b = q[0::2, 1::2]
                c = q[1::2, 0::2]
                d = q[1::2, 1::2]
                hh = a - b + c - d
                vv = a + b - c - d
                dd = a - b - c + d
                rows.append({
                    "tx": int(t.tx), "ty": int(t.ty),
                    "n_blocks": int(a.size),
                    "e_h": int((hh * hh).sum()),
                    "e_v": int((vv * vv).sum()),
                    "e_d": int((dd * dd).sum()),
                })
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(emit, schema=out_schema)


FOCAL_ENT_BINS = 5  # equal-width value classes over the quantized range


def focal_entropy_tile_stats(
    tiles: DataFrame,
    grid: GridSpec,
    quant: float = 1e6,
    bins: int = FOCAL_ENT_BINS,
    vmin_q: int = -1_000_000,
    vmax_q: int = 1_000_000,
) -> DataFrame:
    """[tx, ty, n_windows, ent_q_sum, mean_entropy] — 3×3 focal
    Shannon entropy of the value-class raster (values binned into
    ``bins`` equal-width classes over [vmin_q, vmax_q]): the local
    heterogeneity/texture metric (GRASS r.neighbors method=entropy /
    diversity's weighted sibling) that complements the focal mean
    (smoothness) and Haar energies (orientation).

    Interior windows only (all 9 pixels inside the raster), each owned
    by its centre pixel's tile — the SAME halo exchange as
    ``focal_tile_stats``.  Per window: class counts c_k via shifted
    box sums; each −(c/9)·ln(c/9) term is 1e-9-quantized on the libm
    expression both engines share and summed as exact int64; the one
    FP step (mean de-quantization) runs in Catalyst."""
    npx_x, npx_y = grid.npx_x, grid.npx_y
    span = vmax_q - vmin_q

    def stencil(canvas, mask, w, h, tx, ty):
        gx0, gy0 = tx * grid.tile_px, ty * grid.tile_px
        cls = np.clip(
            ((canvas - vmin_q) * bins) // span, 0, bins - 1
        ).astype(np.int64)
        # interior centres: global 1..npx-2 in both axes
        ix = gx0 + np.arange(w)
        iy = gy0 + np.arange(h)
        interior = (
            (ix[None, :] >= 1) & (ix[None, :] <= npx_x - 2)
            & (iy[:, None] >= 1) & (iy[:, None] <= npx_y - 2)
        )
        ent = np.zeros((h, w), dtype=np.int64)
        for k in range(bins):
            cnt = _box3(cls == k, w, h)
            nz = cnt > 0
            c = cnt[nz].astype(np.float64)
            t = np.floor(-(c / 9.0) * np.log(c / 9.0) * 1e9 + 0.5)
            ent[nz] += t.astype(np.int64)
        return {
            "n_windows": int(interior.sum()),
            "ent_q_sum": int(ent[interior].sum()),
        }

    stats = _halo_stats(
        tiles, grid, quant, "n_windows long, ent_q_sum long", stencil
    )
    return stats.select(
        "tx", "ty", "n_windows", "ent_q_sum",
        F.round(
            F.col("ent_q_sum").cast("double")
            / F.col("n_windows").cast("double") / 1000000000.0
            + F.lit(0.0),
            6,
        ).alias("mean_entropy"),
    )
