"""Connected-component patch labelling of a raster mask (FRAGSTATS).

Completes the landscape-ecology family: q_euler_green counts patches
minus holes WITHOUT labelling, q_edge_density measures perimeter —
this operator produces the actual per-patch pixel counts (the
patch-size distribution, mean-patch-size / largest-patch-index inputs
of FRAGSTATS class metrics).  The reference visualizes greenness
rasters but never labels patches (GreenExp/availability.py stops at
zonal means); patch labelling is the canonical next step of every
fragmentation analysis.

Scale design — the classic three-stage distributed CCL, every stage
bounded:

1. **Tile-local labelling** (one ``mapInPandas``, no shuffle): each
   tile runs a run-length union-find over its own pixels.  The
   provisional label is the component's minimum GLOBAL pixel index
   (``iy·npx + ix``) — globally unique across tiles and deterministic,
   so no tile-id counters or nondeterministic task ids leak into the
   result.  The kernel emits per-component partial pixel counts plus
   one record per green BORDER pixel keyed by the shared border id and
   position.
2. **Border stitching** (one groupBy): a border cell
   ``(border_id, pos)`` receives exactly two records when both facing
   pixels are green — ``min(label), max(label)`` of the pair IS the
   merge edge.  No self-join, no halo exchange: edge count is bounded
   by the total border length (npx per tile side), orders of magnitude
   below the pixel count.
3. **Global merge**: the label graph (components ≪ pixels, edges ≤
   border length) goes through ``operators.dissolve.connected_components``
   — driver union-find below 1M edges, Pregel min-label loop with
   per-round ``localCheckpoint`` above — then one groupBy re-sums the
   partial counts per final component.

The whole pipeline is two shuffles (edge groupBy + final re-sum) plus
whatever the component solver needs; nothing is ever all-pairs and no
stage holds more than one tile in memory.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.grid import GridSpec
from .focal import _quantized_tiles

__all__ = [
    "tile_patch_parts", "patch_sizes", "patch_size_histogram",
    "patch_shape_stats", "patch_shape_histogram",
]

# record kinds emitted by the tile kernel
_KIND_SIZE = 0    # k1 = provisional label, k2 = partial pixel count
_KIND_BORDER = 1  # k1 = border id, k2 = position, lab = label
_KIND_PERIM = 2   # k1 = provisional label, k2 = partial perimeter (sides)


def _local_runs_union(mask: np.ndarray, gx0: int, gy0: int, npx: int):
    """Run-length union-find CCL of one tile's boolean mask.

    Returns (labels_per_run, run_rows) where each run is
    (giy, gix0, gix1_inclusive, component_label) and the label is the
    component's minimum global pixel index.  Pure-Python union-find
    over RUNS (≪ pixels), NumPy for run extraction.
    """
    h, w = mask.shape
    runs: list[tuple[int, int, int]] = []  # (iy, x0, x1) tile-local
    row_runs: list[list[int]] = []
    for iy in range(h):
        row = mask[iy]
        idx = []
        if row.any():
            d = np.diff(row.astype(np.int8))
            starts = list(np.nonzero(d == 1)[0] + 1)
            ends = list(np.nonzero(d == -1)[0])
            if row[0]:
                starts = [0] + starts
            if row[-1]:
                ends = ends + [w - 1]
            for x0, x1 in zip(starts, ends):
                idx.append(len(runs))
                runs.append((iy, int(x0), int(x1)))
        row_runs.append(idx)

    parent = list(range(len(runs)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for iy in range(1, h):
        for ra in row_runs[iy]:
            _, ax0, ax1 = runs[ra]
            for rb in row_runs[iy - 1]:
                _, bx0, bx1 = runs[rb]
                if ax0 <= bx1 and bx0 <= ax1:  # 4-adjacent overlap
                    union(ra, rb)

    # component label = min global pixel index = min over member runs
    # of giy*npx + gix0 (the component's first pixel in row-major order
    # starts a run, so the min over run STARTS is exact)
    lab: dict[int, int] = {}
    for ri, (iy, x0, _x1) in enumerate(runs):
        root = find(ri)
        g = (gy0 + iy) * npx + (gx0 + x0)
        if root not in lab or g < lab[root]:
            lab[root] = g
    run_label = [lab[find(ri)] for ri in range(len(runs))]
    return runs, run_label


def tile_patch_parts(
    tiles: DataFrame, grid: GridSpec, quant: float = 1e6
) -> DataFrame:
    """[kind, k1, k2, lab] — tile-local CCL partials + border records.

    Mask = half-away-quantized pixel value > 0 (the q_euler_green /
    q_edge_density green mask).  kind 0: (label, partial count);
    kind 1: (border id, position, label) for green pixels touching a
    tile border — the right/top border is OWNED by the tile, the
    left/bottom pixel of the neighbour posts to the owner's id, so a
    groupBy on (k1, k2) sees both sides of every potential merge.
    """
    tile_px, npx = grid.tile_px, grid.npx
    ntx = grid.n_tiles_x

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[int, int, int, int]] = []
            for t, arr in _quantized_tiles(pdf, quant):
                h, w = arr.shape
                mask = arr > 0
                tx, ty = int(t.tx), int(t.ty)
                gx0, gy0 = tx * tile_px, ty * tile_px
                runs, run_label = _local_runs_union(mask, gx0, gy0, npx)
                counts: dict[int, int] = {}
                for (iy, x0, x1), lb in zip(runs, run_label):
                    counts[lb] = counts.get(lb, 0) + (x1 - x0 + 1)
                for lb, n in counts.items():
                    rows.append((_KIND_SIZE, lb, n, 0))
                # tile-local perimeter partials (kind 2): sides facing
                # non-green WITH zero padding at the tile edge; sides
                # shared across a tile border are over-counted once per
                # side and repaired in patch_shape_stats via the n==2
                # border groups (−2 each).
                if runs:
                    lab_img = np.full((h, w), -1, dtype=np.int64)
                    for (iy, x0, x1), lb in zip(runs, run_label):
                        lab_img[iy, x0:x1 + 1] = lb
                    m = lab_img >= 0
                    ngb = np.zeros((h, w), dtype=np.int64)
                    ngb[:, 1:] += m[:, :-1]
                    ngb[:, :-1] += m[:, 1:]
                    ngb[1:, :] += m[:-1, :]
                    ngb[:-1, :] += m[1:, :]
                    sides = (4 - ngb)[m]
                    labs = lab_img[m]
                    uk = np.unique(labs)
                    acc = np.zeros(len(uk), dtype=np.int64)
                    np.add.at(acc, np.searchsorted(uk, labs), sides)
                    for lb, pp in zip(uk, acc):
                        rows.append((_KIND_PERIM, int(lb), int(pp), 0))
                # border records: vertical border right of (tx,ty) id =
                # 2*(ty*ntx+tx); horizontal border above = that + 1
                for (iy, x0, x1), lb in zip(runs, run_label):
                    giy = gy0 + iy
                    if x1 == w - 1:   # own right edge → own V border
                        rows.append((_KIND_BORDER, 2 * (ty * ntx + tx),
                                     giy, lb))
                    if x0 == 0 and tx > 0:  # left edge → neighbour's V
                        rows.append((_KIND_BORDER, 2 * (ty * ntx + tx - 1),
                                     giy, lb))
                    if iy == h - 1:   # own top edge → own H border
                        for gx in range(gx0 + x0, gx0 + x1 + 1):
                            rows.append(
                                (_KIND_BORDER, 2 * (ty * ntx + tx) + 1,
                                 gx, lb)
                            )
                    if iy == 0 and ty > 0:  # bottom edge → lower H
                        for gx in range(gx0 + x0, gx0 + x1 + 1):
                            rows.append(
                                (_KIND_BORDER, 2 * ((ty - 1) * ntx + tx) + 1,
                                 gx, lb)
                            )
            yield pd.DataFrame(
                rows, columns=["kind", "k1", "k2", "lab"]
            )

    return tiles.mapInPandas(
        emit, schema="kind int, k1 long, k2 long, lab long"
    )


def patch_sizes(parts: DataFrame) -> DataFrame:
    """[patch, n_px] — final component label (min global pixel index)
    and exact pixel count per patch."""
    from .dissolve import connected_components

    sizes = (
        parts.filter(F.col("kind") == _KIND_SIZE)
        .groupBy(F.col("k1").alias("lbl"))
        .agg(F.sum("k2").alias("n_px"))
    ).localCheckpoint()  # two consumers below (no-CSE rule, CLAUDE.md)
    edges = (
        parts.filter(F.col("kind") == _KIND_BORDER)
        .groupBy("k1", "k2")
        .agg(
            F.min("lab").alias("a"), F.max("lab").alias("b"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("n") == 2) & (F.col("a") != F.col("b")))
        .select("a", "b")
        # tiny border-merge pair table, but its lineage is the whole
        # tile-CCL kernel — materialize so the CC edge fetch doesn't
        # re-run the CCL pass `sizes` already paid for
        .localCheckpoint()
    )
    comp = connected_components(
        sizes.select(F.col("lbl").alias("gs_id")), edges, key="gs_id"
    )
    return (
        sizes.join(comp, sizes["lbl"] == comp["gs_id"])
        .groupBy(F.col("comp").alias("patch"))
        .agg(F.sum("n_px").alias("n_px"))
    )


def patch_size_histogram(
    tiles: DataFrame, grid: GridSpec, quant: float = 1e6
) -> DataFrame:
    """[patch_px, n_patches] — the patch-size distribution of the green
    mask (order-free: labels never appear, so the output is comparable
    against any independent labelling)."""
    sz = patch_sizes(tile_patch_parts(tiles, grid, quant))
    return sz.groupBy(F.col("n_px").alias("patch_px")).agg(
        F.count(F.lit(1)).alias("n_patches")
    )


def patch_shape_stats(parts: DataFrame) -> DataFrame:
    """[patch, n_px, perim_px] — exact per-patch area AND 4-boundary
    perimeter from the same tile-CCL partials: tile-local perimeter
    partials zero-pad at tile edges, so every green↔green adjacency
    straddling a border was counted once per side — each n==2 border
    group repairs the merged patch by −2.  With area this yields the
    FRAGSTATS shape index P/(4√A) per patch."""
    from .dissolve import connected_components

    sizes = (
        parts.filter(F.col("kind") == _KIND_SIZE)
        .groupBy(F.col("k1").alias("lbl"))
        .agg(F.sum("k2").cast("long").alias("n_px"))
    ).localCheckpoint()  # consumed by CC nodes + the final join
    perim = (
        parts.filter(F.col("kind") == _KIND_PERIM)
        .groupBy(F.col("k1").alias("lbl"))
        .agg(F.sum("k2").cast("long").alias("pp"))
    )
    bd = (
        parts.filter(F.col("kind") == _KIND_BORDER)
        .groupBy("k1", "k2")
        .agg(
            F.min("lab").alias("a"), F.max("lab").alias("b"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") == 2)
        .localCheckpoint()  # consumed twice: merge edges + perim repair
    )
    edges = bd.filter(F.col("a") != F.col("b")).select("a", "b")
    corr = bd.groupBy(F.col("a").alias("lbl")).agg(
        (2 * F.count(F.lit(1))).cast("long").alias("cut")
    )
    comp = connected_components(
        sizes.select(F.col("lbl").alias("gs_id")), edges, key="gs_id"
    )
    lbl_stats = (
        sizes.join(perim, "lbl")
        .join(corr, "lbl", "left")
        .select(
            "lbl", "n_px",
            (F.col("pp") - F.coalesce("cut", F.lit(0))).alias("pnet"),
        )
    )
    return (
        lbl_stats.join(comp, lbl_stats["lbl"] == comp["gs_id"])
        .groupBy(F.col("comp").alias("patch"))
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.sum("pnet").cast("long").alias("perim_px"),
        )
    )


def patch_shape_histogram(
    tiles: DataFrame, grid: GridSpec, quant: float = 1e6
) -> DataFrame:
    """[patch_px, perim_px, n_patches, shape] — label-free joint
    area/perimeter distribution of the green-mask patches with the
    FRAGSTATS raster shape index 0.25·P/√A per class (1 for a perfect
    square, growing with boundary complexity)."""
    st = patch_shape_stats(tile_patch_parts(tiles, grid, quant))
    return (
        st.groupBy(
            F.col("n_px").alias("patch_px"),
            F.col("perim_px").alias("perim_px"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_patches"))
        .select(
            "patch_px", "perim_px", "n_patches",
            (F.col("perim_px").cast("double") * 0.25
             / F.sqrt(F.col("patch_px").cast("double"))).alias("shape"),
        )
    )
