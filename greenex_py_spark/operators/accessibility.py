"""Accessibility: distance to nearest greenspace (SURVEY.md §3.1).

Re-expresses ``get_shortest_distance_greenspace``
(/root/reference/GreenExp/accessibility.py:24-322) as a distance-bounded
1-NN join:

reference semantics preserved (SURVEY.md §2.9):
- candidate greenspaces = features whose polygon intersects the PoI's
  ``buffer(target_dist)`` (the per-row ``clip`` at accessibility.py:228);
- ``destination='centroids'`` measures to the *pre-clip* centroid
  (accessibility.py:135 computes centroids before the clip);
- distance rounded to 0 decimals (accessibility.py:271,282,299);
- ``outcome = min_dist <= target_dist`` evaluated BEFORE clamping
  (accessibility.py:313-316); NaN → False;
- a miss (no candidate, or min > target) clamps distance to exactly
  ``target_dist`` (accessibility.py:318-320).

Spark shape: the whole operator is **pure column expressions** — candidate
pruning is a cell equi-join (broadcast for small dims, shuffle+AQE-skew
otherwise), the exact predicate and distance are codegen'd arithmetic, the
1-NN is a ``groupBy(id).min(dist)``.  No UDF anywhere on this path, so the
plan is one WholeStageCodegen span per side plus the join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Above this many target rows the unbounded crossJoin fallback of
# ``nearest_k`` (max_dist=None) stops being a broadcast-dim pattern:
# 1M targets × 24 B is still broadcastable, but the pair fan-out is
# points × targets — the distance-bounded path is the right tool there.
MAX_CROSSJOIN_TARGETS = 1_000_000


def rect_buffer_candidates(
    points: DataFrame,
    greens: DataFrame,
    target_dist: float,
    min_area: float,
) -> DataFrame:
    """Candidate (point, greenspace) pairs: rectangle intersects the
    circular buffer, i.e. dist(point, rect) <= target_dist.

    ``points``: [id, x, y]; ``greens``: [gs_id, minx, miny, maxx,
    maxy, area, cx, cy].  Candidates come from the cell-cover equi-join
    (pad = target_dist) so the plan scales — the exact bbox-distance test
    (codegen arithmetic, exact for axis-aligned rects) then removes cover
    false-positives.  Each point probes one cell, so every pair appears
    once (spatial_join.cell_candidates).  General polygons go through
    operators/spatial_join.py's PiP/clip kernels instead.
    """
    from .spatial_join import cell_candidates

    g = greens.filter(F.col("area") >= F.lit(min_area))
    cand = cell_candidates(points, g, pad=float(target_dist))
    dx = F.greatest(F.lit(0.0), F.col("minx") - F.col("x"), F.col("x") - F.col("maxx"))
    dy = F.greatest(F.lit(0.0), F.col("miny") - F.col("y"), F.col("y") - F.col("maxy"))
    return cand.filter((dx * dx + dy * dy) <= F.lit(float(target_dist) ** 2))


def shortest_distance_greenspace(
    points: DataFrame,
    greens: DataFrame,
    target_dist: float = 300.0,
    min_area: float = 400.0,
    id_col: str = "id",
) -> DataFrame:
    """Euclidean / centroids variant → [id, greenspace_within, distance_to_greenspace].

    Output contract matches README.md:317-321: bool + clamped rounded
    float, misses get ``distance == target_dist`` exactly.
    """
    cand = rect_buffer_candidates(points.select(id_col, "x", "y"), greens, target_dist, min_area)
    d2 = (F.col("cx") - F.col("x")) ** 2 + (F.col("cy") - F.col("y")) ** 2
    near = (
        cand.select(id_col, F.round(F.sqrt(d2), 0).alias("dist"))
        .groupBy(id_col)
        .agg(F.min("dist").alias("min_dist"))
    )
    return _outcome_clamp(points, near, target_dist, id_col)


def _outcome_clamp(
    points: DataFrame, near: DataFrame, target_dist: float, id_col: str
) -> DataFrame:
    """The §2.9 outcome/clamp shared by every accessibility variant:
    ``near`` [id, min_dist] → one row per PoI id of ``points`` with
    ``greenspace_within = min_dist <= target_dist`` evaluated BEFORE the
    clamp (accessibility.py:313-316; a miss → False) and
    ``distance_to_greenspace = least(min_dist, target_dist)``, a miss
    clamped to exactly ``target_dist`` (accessibility.py:318-320)."""
    td = F.lit(float(target_dist))
    return (
        points.select(id_col).distinct()
        .join(near, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("min_dist") <= td, F.lit(False)).alias("greenspace_within"),
            F.coalesce(F.least(F.col("min_dist"), td), td).alias("distance_to_greenspace"),
        )
    )


def two_step_fca(
    points: DataFrame,
    greens: DataFrame,
    radius: float = 300.0,
    min_area: float = 0.0,
    id_col: str = "id",
    supply_col: str = "area",
    weight_scale: float = 1_000_000.0,
) -> DataFrame:
    """Two-step floating catchment area (2SFCA) greenspace accessibility.

    The classic supply/demand accessibility index (Luo & Wang 2003) the
    reference's distance-to-nearest metric (accessibility.py:24-322)
    does not capture: step 1 gives every greenspace *j* a supply ratio
    ``R_j = supply_j / D_j`` where ``D_j`` is the number of demand
    points within ``radius`` of its centroid; step 2 scores every point
    *i* as ``A_i = sum(R_j)`` over the greenspaces it can reach.

    Exactness: ``R_j`` is quantised to ``round(supply * weight_scale /
    D_j)`` BIGINT, so the step-2 sum is an exact integer in any
    accumulation order; the output is ``round(sum / weight_scale, 6)``.

    Scale shape: candidate pairs come from the single-cell-probe equi
    join (distinct by construction, spatial_join.py:100-107), demand
    counts are a window over ``gs_id`` on the SAME pair frame — no
    join-back, so the candidate subtree is evaluated once (the no-CSE
    rule) — and the final score is one ``groupBy(id)``.  Greenspace
    demand skew maps to window-partition skew, which AQE splits.
    """
    from .spatial_join import cell_candidates

    g = greens.filter(F.col("area") >= F.lit(float(min_area)))
    cand = cell_candidates(points.select(id_col, "x", "y"), g, pad=float(radius))
    dx = F.col("cx") - F.col("x")
    dy = F.col("cy") - F.col("y")
    pairs = cand.filter(dx * dx + dy * dy <= F.lit(float(radius) ** 2)).select(
        id_col, "gs_id", supply_col
    )
    w = Window.partitionBy("gs_id")
    rq = F.round(
        F.col(supply_col) * F.lit(float(weight_scale)) / F.count(F.lit(1)).over(w)
    ).cast("long")
    scored = pairs.withColumn("rq", rq).groupBy(id_col).agg(F.sum("rq").alias("_s"))
    return (
        points.select(id_col).distinct()
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.round(
                F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                / F.lit(float(weight_scale)),
                6,
            ).alias("fca_score"),
        )
    )


def two_step_fca_decay(
    points: DataFrame,
    greens: DataFrame,
    radius: float = 300.0,
    sigma: float = 150.0,
    min_area: float = 0.0,
    id_col: str = "id",
    supply_col: str = "area",
    w_scale: float = 1_000_000.0,
    r_scale: float = 1e12,
) -> DataFrame:
    """Enhanced 2SFCA (E2SFCA, Luo & Qi 2009) with a Gaussian distance
    decay inside the catchment instead of the binary membership of
    :func:`two_step_fca`:

        w_ij = exp(-d_ij^2 / (2 sigma^2))          (0 outside radius)
        R_j  = supply_j / sum_i w_ij
        A_i  = sum_j w_ij * R_j

    Exactness: w is quantised to ``round(exp(..) * w_scale)`` BIGINT
    (zero-weight pairs drop), the demand sum is an exact integer, R is
    re-quantised to ``round(supply * r_scale / D)`` BIGINT, and the
    step-2 sum of ``w * R`` runs in DECIMAL(38,0)/HUGEINT — so the only
    FP steps are the per-pair exp and two divisions, each a fixed IEEE
    chain mirrored in the oracle.  Output = round(sum / r_scale, 6).

    Same scale shape as :func:`two_step_fca`: cell-cover candidates,
    demand as a window over the SAME pair frame, one groupBy(id).
    """
    from .spatial_join import cell_candidates

    g = greens.filter(F.col("area") >= F.lit(float(min_area)))
    cand = cell_candidates(points.select(id_col, "x", "y"), g, pad=float(radius))
    dx = F.col("cx") - F.col("x")
    dy = F.col("cy") - F.col("y")
    d2 = dx * dx + dy * dy
    wq = F.round(
        F.exp(-d2 / F.lit(2.0 * float(sigma) ** 2)) * F.lit(float(w_scale))
    ).cast("long")
    pairs = (
        cand.filter(d2 <= F.lit(float(radius) ** 2))
        .select(id_col, "gs_id", supply_col, wq.alias("wq"))
        .filter(F.col("wq") > 0)
    )
    w = Window.partitionBy("gs_id")
    dj = F.sum("wq").over(w)
    rq = F.round(
        F.col(supply_col) * F.lit(float(r_scale)) / dj.cast("double")
    ).cast("long")
    scored = (
        pairs.withColumn("rq", rq)
        .groupBy(id_col)
        .agg(F.sum(F.col("wq").cast("decimal(38,0)") * F.col("rq")).alias("_s"))
    )
    return (
        points.select(id_col).distinct()
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.round(
                F.coalesce(F.col("_s").cast("double"), F.lit(0.0))
                / F.lit(float(r_scale)),
                6,
            ).alias("fca_score"),
        )
    )


def nearest_k(
    points: DataFrame,
    targets: DataFrame,
    k: int = 1,
    id_col: str = "id",
    target_id_col: str = "gs_id",
    max_dist: float | None = None,
) -> DataFrame:
    """General k-NN join point→target-point (J3/J4 in SURVEY.md §2.3)
    → [id, x, y, target id, nn_dist, nn_rank].

    Distance-bounded when ``max_dist`` given (the cKDTree
    ``distance_upper_bound`` pattern, GreenExp/visibility.py:706-707):
    the targets are the cell cover with ``pad = max_dist``, each point
    probes its home cell, and the exact ``d² <= max_dist²`` test
    filters.  Top-k per point via window rank over the candidate pairs.

    Envelope: with ``max_dist=None`` this falls back to
    ``crossJoin(broadcast(targets))`` — correct for the reference's
    dim-sized target sets (parks per city), and guarded by a bounded
    ``limit(cap+1).count()`` probe (the ``DRIVER_MAX_EDGES`` device)
    that raises before the plan is built when targets exceed
    :data:`MAX_CROSSJOIN_TARGETS`.  Large target sets should pass a
    ``max_dist`` so the cell-prefiltered distance-bounded join applies
    (the path every gate query uses).
    """
    if max_dist is None:
        if targets.limit(MAX_CROSSJOIN_TARGETS + 1).count() > MAX_CROSSJOIN_TARGETS:
            raise ValueError(
                f"nearest_k with max_dist=None cross-joins every point "
                f"against every target; targets exceed "
                f"{MAX_CROSSJOIN_TARGETS} rows. Pass max_dist to use the "
                "distance-bounded join, or pre-filter the target set."
            )
    from .spatial_join import cell_candidates

    pts = points.select(id_col, "x", "y")
    t = targets.select(
        target_id_col,
        F.col("x").alias("_tx"),
        F.col("y").alias("_ty"),
    )
    if max_dist is None:
        pairs = pts.crossJoin(F.broadcast(t))
    else:
        box = t.select(
            "*", F.col("_tx").alias("minx"), F.col("_ty").alias("miny"),
            F.col("_tx").alias("maxx"), F.col("_ty").alias("maxy"),
        )
        pairs = cell_candidates(pts, box, pad=float(max_dist)).filter(
            ((F.col("_tx") - F.col("x")) ** 2 + (F.col("_ty") - F.col("y")) ** 2)
            <= F.lit(float(max_dist) ** 2)
        ).select(*pts.columns, *t.columns)
    dist = F.sqrt((F.col("_tx") - F.col("x")) ** 2 + (F.col("_ty") - F.col("y")) ** 2)
    w = Window.partitionBy(id_col).orderBy(F.col("nn_dist").asc(), F.col(target_id_col).asc())
    return (
        pairs.withColumn("nn_dist", dist)
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .drop("_tx", "_ty")
    )


def rect_buffer_candidates_polygon32(
    points: DataFrame,
    greens: DataFrame,
    target_dist: float,
    min_area: float,
) -> DataFrame:
    """Reference-exact candidate set: a greenspace is a candidate iff its
    polygon intersects the **32-segment buffer polygon** (shapely's
    ``Point.buffer`` default the reference clips against,
    accessibility.py:228) — not the true circle.  The two differ in a
    ~1.4 m sagitta band at target_dist=300; `rect_buffer_candidates`
    (circle test) is the SQL-checkable engine default.
    """
    from pyspark.sql import types as T

    from ..geo.kernels import box_ring, circle_polygon, clip_area
    from .spatial_join import cell_candidates

    g = greens.filter(F.col("area") >= F.lit(min_area))
    cand = cell_candidates(points, g, pad=float(target_dist))

    @F.pandas_udf(T.BooleanType())
    def intersects32(x: pd.Series, y: pd.Series, minx: pd.Series, miny: pd.Series,
                     maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        out = []
        for i in range(len(x)):
            buf = circle_polygon(float(x.iloc[i]), float(y.iloc[i]), float(target_dist))
            rect = [box_ring(float(minx.iloc[i]), float(miny.iloc[i]),
                             float(maxx.iloc[i]), float(maxy.iloc[i]))]
            out.append(clip_area(rect, buf) > 0.0)
        return pd.Series(out)

    return cand.filter(intersects32("x", "y", "minx", "miny", "maxx", "maxy"))


def shortest_distance_greenspace_exact(
    points: DataFrame,
    greens: DataFrame,
    target_dist: float = 300.0,
    min_area: float = 400.0,
    id_col: str = "id",
) -> DataFrame:
    """Euclidean/centroids with the reference-exact 32-gon candidate set
    (golden-parity path; tests/test_reference_parity.py)."""
    cand = rect_buffer_candidates_polygon32(
        points.select(id_col, "x", "y"), greens, target_dist, min_area
    )
    d2 = (F.col("cx") - F.col("x")) ** 2 + (F.col("cy") - F.col("y")) ** 2
    near = (
        cand.select(id_col, F.sqrt(d2).alias("dist"))
        .groupBy(id_col)
        .agg(F.round(F.min("dist"), 0).alias("min_dist"))
    )
    return _outcome_clamp(points, near, target_dist, id_col)


def huff_shares(
    points: DataFrame,
    facilities: DataFrame,
    id_col: str = "doc_id",
    fac_col: str = "gs_id",
    attr_col: str = "area",
    radius: float = 3000.0,
    scale: float = 1.0e9,
) -> DataFrame:
    """[id, fac, p_top, n_considered] — truncated Huff gravity model
    (Huff 1963, the market-share complement of 2SFCA): each point
    splits its patronage across facilities within ``radius`` by

        p_ij = A_j / d_ij²  /  Σ_k A_k / d_ik²      (d² clamped ≥ 1 m²)

    and the output keeps the argmax facility with its probability.

    Engine exactness: the gravity terms are quantized to integers
    (``round(A/d² · scale)``) BEFORE the per-point normalizer sum, so
    the denominator is an order-free exact integer sum — the only FP
    steps are the one quantizing round and the final division (round-6,
    then ranked under a (p desc, fac asc) total order).

    Scale shape: facilities are a metadata-sized dim next to the point
    corpus (same assumption as the gazetteer in nearest_geodesic) —
    broadcast cross join, radius filter, one unpartitioned-per-point
    window pair.  Swap the broadcast for the cell-cover equi-join if
    the facility layer ever outgrows a dim.
    """
    from pyspark.sql import Window

    fac = facilities.select(
        F.col(fac_col),
        F.col("cx").alias("_fx"),
        F.col("cy").alias("_fy"),
        F.col(attr_col).cast("double").alias("_a"),
    )
    dx = F.col("x") - F.col("_fx")
    dy = F.col("y") - F.col("_fy")
    d2 = F.greatest(dx * dx + dy * dy, F.lit(1.0))
    wq = F.round(F.col("_a") / d2 * F.lit(scale), 0).cast("long")
    cand = (
        points.select(id_col, "x", "y")
        .join(F.broadcast(fac))
        .filter(dx * dx + dy * dy <= F.lit(radius * radius))
        .select(id_col, F.col(fac_col), wq.alias("_wq"))
    )
    wsum = Window.partitionBy(id_col)
    rank = Window.partitionBy(id_col).orderBy(
        F.col("p").desc(), F.col(fac_col).asc()
    )
    return (
        cand.withColumn("_den", F.sum("_wq").over(wsum))
        .withColumn("_n", F.count(F.lit(1)).over(wsum))
        .withColumn(
            "p",
            F.round(F.col("_wq").cast("double") / F.col("_den"), 6),
        )
        .withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.col(fac_col),
            F.col("p").alias("p_top"),
            F.col("_n").cast("long").alias("n_considered"),
        )
    )
