"""D8 flow accumulation over a macro-coarsened raster.

Completes the terrain family (slope / aspect / hillshade /
flow-direction, operators/focal.py) with the classic hydrology
aggregate: for every cell, the number of cells whose steepest-descent
D8 path drains through it (itself included).  The reference plots
rasters but derives no hydrology (GreenExp/visibility.py:214-231 stops
at elevation); accumulation is the standard next step in every terrain
stack (ArcGIS FlowAccumulation, GRASS r.watershed).

Scale design — three stages, each bounded:

1. **Macro coarsening** (``macro_cells``): tiles → per-tile PARTIAL
   block sums (``mapInPandas``, no shuffle) → one two-phase
   ``groupBy(mx, my).sum`` — the block-sum raster is
   ``factor²``-smaller than the pixel raster and the elevation proxy
   stays an exact int64 (sum of half-away-quantized pixels; strictly
   monotone in the block mean, so D8 picks identical neighbours).
2. **D8 pointers** (``d8_downstream``): 8-offset equi-join on the
   macro grid + a per-cell window argmax.  The drop comparison
   ``dz_c/res`` vs ``dz_d/(res·√2)`` is the exact int64 key
   ``dz²·{2,1}`` (2a² = b² has no nonzero integer solutions, so
   cardinal/diagonal never tie at dz > 0; operators/focal.py
   establishes the trick), ESRI-code-ascending tiebreak.  Strictly
   positive drops only ⇒ the pointer graph is acyclic by construction.
3. **Accumulation by pointer doubling** (``flow_accumulation``):
   upstream counts are |{u : v on u's path}| = a transitive closure of
   a FUNCTIONAL graph, computed in ⌈log₂ L⌉ rounds (L = longest flow
   path) of jump-squaring — not L sequential sweeps: R ← R ∪ J∘R,
   J ← J∘J.  Every round is two hash joins keyed by cell;
   ``localCheckpoint`` per round caps plan lineage (CLAUDE.md
   iterative-loop mandate).  Pair-set size = Σ path lengths — the same
   budget the oracle's recursive walk materializes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint
from ..geo.grid import GridSpec
from .focal import D8_DIRS, _quantized_tiles

# round cap of the pointer-doubling loops: after r rounds a pointer
# spans 2**r downslope steps, so 64 rounds outlast any D8 path and the
# loops always stop on their own convergence test first
_DOUBLING_ROUNDS = 64

# D8_DIRS (esri_code, dx, dy, weight) is focal's table, re-exported for
# the gate queries' oracle SQL (driver_queries reads it from here)
__all__ = ["D8_DIRS", "macro_cells", "d8_downstream", "flow_accumulation",
           "watershed_labels", "flow_path_length"]


def macro_cells(
    tiles: DataFrame, grid: GridSpec, factor: int, quant: float = 1e6
) -> DataFrame:
    """[mx, my, zq] — ``factor×factor``-block sums of the half-away
    quantized raster.  Tile edges need not align with block edges:
    each tile emits partial sums for every block it overlaps (bounded:
    ≤ (tile_px/factor + 1)² rows/tile), then one two-phase aggregate
    combines them."""
    tile_px = grid.tile_px

    def parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for t, arr in _quantized_tiles(pdf, quant):
                h, w = arr.shape
                gx0 = int(t.tx) * tile_px
                gy0 = int(t.ty) * tile_px
                mx = (gx0 + np.arange(w)) // factor
                my = (gy0 + np.arange(h)) // factor
                # dense per-tile accumulator over the covered block range
                mx0, my0 = int(mx[0]), int(my[0])
                acc = np.zeros(
                    (int(my[-1]) - my0 + 1, int(mx[-1]) - mx0 + 1),
                    dtype=np.int64,
                )
                np.add.at(acc, (my[:, None] - my0, mx[None, :] - mx0), arr)
                bys, bxs = np.nonzero(np.ones_like(acc, dtype=bool))
                for by, bx in zip(bys, bxs):
                    rows.append(
                        {"mx": mx0 + int(bx), "my": my0 + int(by),
                         "zq_part": int(acc[by, bx])}
                    )
            yield pd.DataFrame(rows)

    p = tiles.mapInPandas(parts, schema="mx long, my long, zq_part long")
    return p.groupBy("mx", "my").agg(F.sum("zq_part").alias("zq"))


def d8_downstream(cells: DataFrame) -> DataFrame:
    """[mx, my, nmx, nmy] — each cell's steepest strictly-descending D8
    neighbour (absent for pits/flats; off-grid neighbours drop in the
    equi-join).  Exact-int comparator key dz²·weight, ESRI code
    ascending on geometric ties.  Envelope: |dz|²·2 must fit int64
    (ANSI mode raises on overflow rather than corrupting the argmax),
    i.e. |dz| ≤ ~2.1e9 — the quantized block sums stay orders of
    magnitude below (factor²·quant·|NDVI| ≤ 4e8 at the gate's
    factor 20)."""
    from pyspark.sql import Window

    spark = cells.sparkSession
    dirs = spark.createDataFrame(
        list(D8_DIRS), "code long, dx long, dy long, w long"
    )
    nb = cells.select(
        F.col("mx").alias("nmx"), F.col("my").alias("nmy"),
        F.col("zq").alias("nzq"),
    )
    cand = (
        cells.crossJoin(F.broadcast(dirs))
        .withColumn("nmx", F.col("mx") + F.col("dx"))
        .withColumn("nmy", F.col("my") + F.col("dy"))
        .join(nb, ["nmx", "nmy"])
        .withColumn("dz", F.col("zq") - F.col("nzq"))
        .filter(F.col("dz") > 0)
    )
    win = Window.partitionBy("mx", "my").orderBy(
        (F.col("dz") * F.col("dz") * F.col("w")).desc(), F.col("code").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("mx", "my", "nmx", "nmy")
    )


def flow_accumulation(cells: DataFrame, down: DataFrame) -> DataFrame:
    """[mx, my, acc] — D8 flow accumulation (upstream cell count,
    self included) by pointer-doubling transitive closure of the
    functional downstream graph: ⌈log₂ L⌉ rounds of two hash joins
    under ``engine/iterate.fixpoint``, which checkpoints both frames
    each round; the reach size is counted once per round."""
    edges = down.select(
        F.col("mx").alias("ux"), F.col("my").alias("uy"),
        F.col("nmx").alias("vx"), F.col("nmy").alias("vy"),
    ).localCheckpoint()
    sizes = [edges.count()]  # reach size per round, counted once

    def double(state: tuple, _: int) -> tuple:
        reach, jump = state
        mid = jump.select(
            F.col("ux").alias("jux"), F.col("uy").alias("juy"),
            F.col("vx").alias("mx_"), F.col("vy").alias("my_"),
        )
        hop = (F.col("mx_") == F.col("ux")) & (F.col("my_") == F.col("uy"))
        ext = mid.join(reach, hop).select(
            F.col("jux").alias("ux"), F.col("juy").alias("uy"), "vx", "vy"
        )
        jump = mid.join(jump, hop).select(
            F.col("jux").alias("ux"), F.col("juy").alias("uy"), "vx", "vy"
        )
        return (
            reach.unionByName(ext).dropDuplicates(["ux", "uy", "vx", "vy"]),
            jump,
        )

    def settled(_: tuple, state: tuple) -> bool:
        sizes.append(state[0].count())
        return state[1].isEmpty() or sizes[-1] == sizes[-2]

    reach = fixpoint((edges, edges), double, _DOUBLING_ROUNDS, settled)[0]
    ups = reach.groupBy(
        F.col("vx").alias("mx"), F.col("vy").alias("my")
    ).agg(F.count(F.lit(1)).alias("n_up"))
    return cells.join(ups, ["mx", "my"], "left").select(
        "mx", "my",
        (F.coalesce(F.col("n_up"), F.lit(0)) + 1).alias("acc"),
    )


def watershed_labels(cells: DataFrame, down: DataFrame) -> DataFrame:
    """[mx, my, pmx, pmy] — each cell labelled with its terminal pit
    (the D8 path's endpoint; pits label themselves).  Pointer squaring:
    pt(u) ← pt(pt(u)) with pits as fixed points converges to the
    terminal in ⌈log₂ L⌉ rounds — one self-join per round keyed by
    cell under ``engine/iterate.fixpoint``, which checkpoints each
    round's pointers; no per-path sequential walk anywhere."""
    pt = cells.join(down, ["mx", "my"], "left").select(
        "mx", "my",
        F.coalesce(F.col("nmx"), F.col("mx")).alias("px"),
        F.coalesce(F.col("nmy"), F.col("my")).alias("py"),
    ).localCheckpoint()

    def square(pt: DataFrame, _: int) -> DataFrame:
        a, b = pt.alias("a"), pt.alias("b")
        return a.join(
            b,
            (F.col("a.px") == F.col("b.mx"))
            & (F.col("a.py") == F.col("b.my")),
        ).select(
            F.col("a.mx").alias("mx"), F.col("a.my").alias("my"),
            F.col("b.px").alias("px"), F.col("b.py").alias("py"),
        )

    def settled(pt: DataFrame, nxt: DataFrame) -> bool:
        return (
            nxt.join(pt, ["mx", "my"])
            .filter((nxt["px"] != pt["px"]) | (nxt["py"] != pt["py"]))
            .count()
        ) == 0

    pt = fixpoint(pt, square, _DOUBLING_ROUNDS, settled)
    return pt.select(
        "mx", "my", F.col("px").alias("pmx"), F.col("py").alias("pmy")
    )


def flow_path_length(cells: DataFrame, down: DataFrame) -> DataFrame:
    """[mx, my, n_steps, n_diag] — D8 downslope path length from every
    cell to its terminal pit, as EXACT integer step counts (total
    steps + how many were diagonal; pits emit 0/0).  Callers convert
    to metres as (n_steps − n_diag + n_diag·√2)·cell — the only FP,
    applied identically in both engines.

    Pointer squaring with accumulators: state (ptr, steps, diags)
    composes as ptr ← ptr∘ptr, steps ← steps_a + steps_b (paths are
    functional, so the sum is exact) — ⌈log₂ L⌉ self-joins under
    ``engine/iterate.fixpoint``, which checkpoints each round's state;
    never an L-step sequential walk.
    The GRASS r.flow "length of flow path" readout at macro scale.
    """
    diag = (
        (F.abs(F.col("nmx") - F.col("mx"))
         + F.abs(F.col("nmy") - F.col("my"))) == 2
    )
    pt = cells.join(down, ["mx", "my"], "left").select(
        "mx", "my",
        F.coalesce(F.col("nmx"), F.col("mx")).alias("px"),
        F.coalesce(F.col("nmy"), F.col("my")).alias("py"),
        F.when(F.col("nmx").isNotNull(), 1).otherwise(0).cast("long")
        .alias("st"),
        F.when(F.col("nmx").isNotNull() & diag, 1).otherwise(0).cast("long")
        .alias("dg"),
    ).localCheckpoint()

    def square(pt: DataFrame, _: int) -> DataFrame:
        a, b = pt.alias("a"), pt.alias("b")
        return a.join(
            b,
            (F.col("a.px") == F.col("b.mx"))
            & (F.col("a.py") == F.col("b.my")),
        ).select(
            F.col("a.mx").alias("mx"), F.col("a.my").alias("my"),
            F.col("b.px").alias("px"), F.col("b.py").alias("py"),
            (F.col("a.st") + F.col("b.st")).alias("st"),
            (F.col("a.dg") + F.col("b.dg")).alias("dg"),
        )

    def settled(pt: DataFrame, nxt: DataFrame) -> bool:
        return (
            nxt.join(pt.select("mx", "my", F.col("st").alias("st0")),
                     ["mx", "my"])
            .filter(nxt["st"] != F.col("st0"))
            .count()
        ) == 0

    pt = fixpoint(pt, square, _DOUBLING_ROUNDS, settled)
    return pt.select(
        "mx", "my",
        F.col("st").alias("n_steps"), F.col("dg").alias("n_diag"),
    )


# integer cost model for cost_distance: green blocks (zq > 0) are free
# sources; the rest pay 2..5 by NDVI deficit bucket.  Cardinal steps
# weight 2, diagonal 3 (the classic integer 1.5 ≈ √2 grid
# approximation) so every path cost is exact int64.
COST_BUCKET = 5_000_000_000


def cost_cells(cells: DataFrame) -> DataFrame:
    """[mx, my, zq, c] — per-macro-cell integer traversal cost."""
    c = F.when(F.col("zq") > 0, F.lit(1)).otherwise(
        2 + F.least(F.lit(3), F.expr(f"(-zq) div {COST_BUCKET}"))
    )
    return cells.select("mx", "my", "zq", c.cast("long").alias("c"))


def cost_distance(cells: DataFrame, max_rounds: int = 200) -> DataFrame:
    """[mx, my, cost] — multi-source weighted distance transform: the
    cheapest 8-connected path cost from every macro cell to the green
    (zq > 0) source set, edge weight (c(u)+c(v))·{2 cardinal, 3
    diagonal} — ArcGIS CostDistance semantics with the integer 2/3
    step weights, so every candidate path cost is exact int64 and min
    is unambiguous.  The effort-weighted "distance to greenspace"
    (vs q_accessibility's Euclidean and q_greenspace_iso's network
    metric).

    Shape: macro coarsening (``macro_cells``) is the distributed
    stage — the full raster reduces factor²-fold in one mapInPandas +
    one two-phase agg; the relaxation then runs Bellman–Ford rounds
    (one hash join keyed by cell + one min-agg per round under
    ``engine/iterate.fixpoint``, monotone convergence: the distance
    table only ever improves).  Rounds = max hop count of an optimal path —
    bounded by the macro-grid diameter, NOT the raster size; at
    continental scale the same loop runs with cells sharded by
    region (each round stays a keyed join), which is the standard
    iterative raster-sweep layout."""
    cc = cost_cells(cells).localCheckpoint()  # edges + init + final join
    nb = cc.select(
        F.col("mx").alias("nmx"), F.col("my").alias("nmy"),
        F.col("c").alias("nc"),
    )
    spark = cells.sparkSession
    dirs = spark.createDataFrame(
        [(dx, dy, 2 if dx * dy == 0 else 3)
         for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx long, dy long, sw long",
    )
    edges = (
        cc.crossJoin(F.broadcast(dirs))
        .withColumn("nmx", F.col("mx") + F.col("dx"))
        .withColumn("nmy", F.col("my") + F.col("dy"))
        .join(nb, ["nmx", "nmy"])
        .select(
            "mx", "my", "nmx", "nmy",
            ((F.col("c") + F.col("nc")) * F.col("sw")).alias("w"),
        )
        .localCheckpoint()
    )
    d = cc.filter(F.col("zq") > 0).select(
        "mx", "my", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    # (cells reached, Σd) of each round, computed once and carried
    sig = [(d.count(), 0)]

    def relax(d: DataFrame, _: int) -> DataFrame:
        step = d.join(edges, ["mx", "my"]).select(
            F.col("nmx").alias("mx"), F.col("nmy").alias("my"),
            (F.col("d") + F.col("w")).alias("d"),
        )
        return d.unionByName(step).groupBy("mx", "my").agg(F.min("d").alias("d"))

    def stable(_: DataFrame, nd: DataFrame) -> bool:
        sig.append((nd.count(), nd.agg(F.sum("d")).collect()[0][0]))
        return sig[-1] == sig[-2]

    d = fixpoint(d, relax, max_rounds, stable)
    return cc.join(d, ["mx", "my"], "left").select(
        "mx", "my", F.col("d").alias("cost")
    )


# GRASS r.topidx convention: pits (no downslope neighbour) take a
# minimum slope instead of dividing by zero
TWI_TAN_MIN = 0.001


def wetness_index(
    cells: DataFrame,
    res_m: float,
    factor: int,
    quant: float = 1e6,
) -> DataFrame:
    """[mx, my, acc, twi] — topographic wetness index
    ln(a / tan β): a = specific catchment area (D8 upstream count ×
    cell size), tan β = the steepest-descent drop over its step
    length — the classic hydrology composite (TOPMODEL; GRASS
    r.topidx) built ENTIRELY from the already-oracle-green pieces:
    ``d8_downstream`` pointers, ``flow_accumulation`` closure, and the
    block-sum surface.  Pits take tan β = {tan_min} (the r.topidx
    minimum-slope convention).

    Exactness: dz and acc are exact int64 end-to-end; the only FP is
    the final fixed chain (dz/scale)/(cell·{{1,√2}}) → ln(a/tan) →
    round-6 with the −0.0 flush — identical lexically in both
    engines (√2 via correctly-rounded sqrt(2.0))."""
    down = d8_downstream(cells).localCheckpoint()  # two consumers
    acc = flow_accumulation(cells, down)
    nb = cells.select(
        F.col("mx").alias("nmx"), F.col("my").alias("nmy"),
        F.col("zq").alias("nzq"),
    )
    j = (
        cells.join(down, ["mx", "my"], "left")
        .join(nb, ["nmx", "nmy"], "left")
    )
    zq_scale = float(factor) * float(factor) * quant
    cell_m = float(res_m) * float(factor)
    diag = (
        (F.abs(F.col("nmx") - F.col("mx"))
         + F.abs(F.col("nmy") - F.col("my"))) == 2
    )
    dz_e = (F.col("zq") - F.col("nzq")).cast("double") / F.lit(zq_scale)
    dist = F.lit(cell_m) * F.when(diag, F.sqrt(F.lit(2.0))).otherwise(
        F.lit(1.0)
    )
    tan = F.when(F.col("nmx").isNull(), F.lit(TWI_TAN_MIN)).otherwise(
        dz_e / dist
    )
    t = j.select("mx", "my", tan.alias("tanb"))
    return (
        acc.join(t, ["mx", "my"])
        .select(
            "mx", "my", "acc",
            F.round(
                F.log(F.col("acc").cast("double") * F.lit(cell_m)
                      / F.col("tanb")) + F.lit(0.0),
                6,
            ).alias("twi"),
        )
    )


wetness_index.__doc__ = wetness_index.__doc__.format(tan_min=TWI_TAN_MIN)
