"""Point→nearest-edge snapping (map-matching primitive).

The missing half of J4: ``network.nearest_node`` snaps to graph
*vertices* (ox.distance.nearest_nodes parity, accessibility.py:237),
this module snaps to graph *segments* (ox.distance.nearest_edges — the
reference never calls it because its notebooks pre-snap to nodes, but
any GPS/streetview ingest needs the edge variant: a point mid-block is
200 m from both endpoints and 3 m from the street).

Shape: the same bounded cell prefilter as nearest_node — segments
replicate to the cells their ``max_snap_dist``-padded bbox covers
(broadcast cover table: a road network is metadata-sized next to the
crawl corpus; the planet-scale swap is cell-partitioned segments
cogrouped with points, kernel unchanged), points equi-join on their
home cell, and a per-point window ranks the handful of local
candidates.  The projection math is one closed-form codegen expression
chain (no UDF):

    t  = clamp(((p-a)·(b-a)) / |b-a|², 0, 1)      (t=0 on zero-length)
    d  = |p - (a + t(b-a))|

Distances are rounded to 6 dp BEFORE ranking (house rule: FP total
order) with edge_id as the tiebreak, and ``t`` gets the ``+ 0.0``
-0.0 flush before its round.  The pad guarantees every candidate with
true d ≤ max_snap_dist is seen, so the argmin is exact whenever the
true nearest edge is within the bound; points with no candidate take
ONE exact full-scan fallback tier (anti-join — never a cascade,
CLAUDE.md), so the operator is total.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["nearest_edge", "candidate_edges"]


def _seg_cover(segments: DataFrame, pad: float) -> DataFrame:
    """[edge_id, x1, y1, x2, y2, cell] — each segment on every cell its
    ``pad``-grown bbox covers (the broadcast side of both snaps)."""
    from .spatial_join import bbox_cover_cells

    seg = segments.select("edge_id", "x1", "y1", "x2", "y2")
    return bbox_cover_cells(
        seg.withColumn("minx", F.least("x1", "x2"))
        .withColumn("miny", F.least("y1", "y2"))
        .withColumn("maxx", F.greatest("x1", "x2"))
        .withColumn("maxy", F.greatest("y1", "y2")),
        pad=pad,
    ).drop("minx", "miny", "maxx", "maxy")


def _proj_cols():
    """(d², t) of the point (x, y) against segment (x1, y1)→(x2, y2),
    both unrounded."""
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    traw = ((F.col("x") - F.col("x1")) * dx + (F.col("y") - F.col("y1")) * dy) / len2
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(traw, F.lit(0.0)), F.lit(1.0))
    )
    cx = F.col("x1") + t * dx
    cy = F.col("y1") + t * dy
    d2 = (F.col("x") - cx) * (F.col("x") - cx) + (F.col("y") - cy) * (F.col("y") - cy)
    return d2, t


def nearest_edge(
    points: DataFrame,
    segments: DataFrame,
    id_col: str = "doc_id",
    max_snap_dist: float = 300.0,
) -> DataFrame:
    """[id, edge_id, snap_dist, t_frac] — exact 1-NN point→segment.

    ``segments``: (edge_id, x1, y1, x2, y2) straight-line segments
    (undirected: feed canonical src<dst rows to avoid double work).
    """
    from .spatial_join import with_point_cell

    seg = segments.select("edge_id", "x1", "y1", "x2", "y2")
    cover = _seg_cover(seg, max_snap_dist)
    pts = with_point_cell(points.select(id_col, "x", "y"))
    d2, t = _proj_cols()
    d_r, t_r = F.round(F.sqrt(d2), 6), F.round(t + F.lit(0.0), 6)
    w = Window.partitionBy(id_col).orderBy(
        F.col("snap_dist").asc(), F.col("edge_id").asc()
    )
    snapped = (
        pts.join(F.broadcast(cover), "cell")
        .withColumn("snap_dist", d_r)
        .withColumn("t_frac", t_r)
        .filter(F.col("snap_dist") <= max_snap_dist)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "edge_id", "snap_dist", "t_frac")
    )
    missed = pts.join(snapped.select(id_col), id_col, "left_anti")
    fallback = (
        missed.join(F.broadcast(seg))
        .withColumn("snap_dist", d_r)
        .withColumn("t_frac", t_r)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "edge_id", "snap_dist", "t_frac")
    )
    return snapped.unionByName(fallback)


def candidate_edges(
    points: DataFrame,
    segments: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    max_snap_dist: float = 300.0,
) -> DataFrame:
    """[id, edge_id, emis, rank] — the top-``k`` candidate segments per
    point with integer emission costs, the map-matching front end
    (:mod:`operators.mapmatch` consumes this).

    ``emis = floor(d²·100 + 0.5)`` (d in metres, so emis is exact at
    0.1 m² resolution) keeps the downstream Viterbi DP in pure int64;
    rank totals on (emis, edge_id).  Same broadcast cell prefilter as
    :func:`nearest_edge` but NO fallback tier: the caller must pick a
    bound that provably covers the true top-k (on a lattice of spacing
    s, every interior point's k=3 nearest segments are within s, so
    any bound > s is exact).  Candidates beyond the bound simply don't
    appear — the DP treats them as impossible states."""
    from .spatial_join import with_point_cell

    cover = _seg_cover(segments, max_snap_dist)
    pts = with_point_cell(points.select(id_col, "x", "y"))
    d2, _ = _proj_cols()
    w = Window.partitionBy(id_col).orderBy(
        F.col("emis").asc(), F.col("edge_id").asc()
    )
    return (
        pts.join(F.broadcast(cover), "cell")
        .withColumn("emis", F.floor(d2 * 100.0 + 0.5).cast("long"))
        .filter(F.col("emis")
                <= F.lit(float(max_snap_dist * max_snap_dist * 100.0)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "edge_id", "emis", "rank")
    )
