"""Cell-prefiltered spatial joins — the engine's flagship pattern.

Replaces the reference's per-row cKDTree / ``gpd.sjoin`` / ``clip``
pruning (GreenExp/accessibility.py:228,281; GreenExp/visibility.py:653)
with a scalable equi-join shape:

1. every spatial row carries an int64 ``cell`` (geo/cells.py grid);
2. polygons/bboxes are exploded to one row per covered cell (+pad) —
   *cover table*;
3. probe ⋈ cover on ``cell`` is a plain equi-join: Catalyst/AQE picks
   broadcast-hash for small build sides, sort-merge otherwise, and
   AQE skew-split handles moderate hot cells;
4. exact geometry predicate (bbox arithmetic in codegen, or a
   vectorized ray-cast pandas UDF for true polygons) filters false
   positives.  Single-cell probes produce distinct pairs by
   construction (one probe cell × one cover row per cell) — the
   whole join is shuffle-free after the broadcast.  A distance bound
   goes into the cover's ``pad`` (the probe stays one cell), so
   distance-bounded pairings keep that property too.

Skew: urban-core cells can exceed what AQE can split for a *single* key.
``salt_join`` fans each hot probe row to 1 salt and replicates cover rows
×N_SALT on the build side — the "salted broadcast/shuffle hybrid" of the
north star. Cold cells keep salt=0 so replication cost is bounded by the
hot-cell histogram (engine/skew.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo.cells import CELL_SIZE, ORIGIN_X, ORIGIN_Y, _BASE


def with_point_cell(
    df: DataFrame, x: str = "x", y: str = "y", out: str = "cell",
    size: float = CELL_SIZE, ox: float = ORIGIN_X, oy: float = ORIGIN_Y,
) -> DataFrame:
    """Attach the grid cell id — pure codegen arithmetic, no UDF."""
    gx = F.floor((F.col(x) - ox) / size).cast("long")
    gy = F.floor((F.col(y) - oy) / size).cast("long")
    return df.withColumn(out, gy * _BASE + gx)


def bbox_cover_cells(
    df: DataFrame,
    pad: float = 0.0,
    minx: str = "minx", miny: str = "miny", maxx: str = "maxx", maxy: str = "maxy",
    size: float = CELL_SIZE, ox: float = ORIGIN_X, oy: float = ORIGIN_Y,
) -> DataFrame:
    """Explode each bbox row to one row per covered cell (inclusive, +pad).

    ``sequence() + explode`` stays JVM-side; output keeps all input
    columns plus ``cell``. This is the build side of every cell join.
    """
    gx0 = F.floor((F.col(minx) - pad - ox) / size).cast("long")
    gx1 = F.floor((F.col(maxx) + pad - ox) / size).cast("long")
    gy0 = F.floor((F.col(miny) - pad - oy) / size).cast("long")
    gy1 = F.floor((F.col(maxy) + pad - oy) / size).cast("long")
    return (
        df.withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("cell", F.col("_gy") * _BASE + F.col("_gx"))
        .drop("_gy", "_gx")
    )


def cell_candidates(
    points: DataFrame,
    polys: DataFrame,
    pad: float = 0.0,
) -> DataFrame:
    """points[... x,y] ⋈ broadcast(polys[... bbox] + pad) on cell →
    candidate pairs: every (point, poly) whose bbox, grown by ``pad``,
    covers the point's cell.  The one join of every distance-bounded
    pairing: the layer is the cover, the bound is ``pad``, and the
    caller's exact predicate filters the result.

    Each point probes its home cell only, always derived from ``x, y``
    (a ``cell`` column on ``points`` is replaced), and the cover has one
    row per (poly, cell) — so each pair appears exactly once however
    many cells a bbox spans, and no consumer needs a ``dropDuplicates``.
    Columns of ``points`` must not collide with those of ``polys``;
    callers project the probe to the columns they read.
    """
    return with_point_cell(points).join(F.broadcast(bbox_cover_cells(polys, pad=pad)), "cell")


def point_in_rect_join(
    points: DataFrame,
    rects: DataFrame,
    point_key: str = "id",
    rect_key: str = "gs_id",
) -> DataFrame:
    """Exact point-in-rectangle join (cell prefilter + codegen bbox test).

    Distinct pairs [point_key, rect_key] + point/rect columns.

    Shuffle-free: the probe point carries exactly ONE cell and the cover
    table has exactly one row per (rect, cell), so every surviving
    (point, rect) pair joins exactly once — no dedup exchange needed.
    Precondition: ``point_key`` is unique per input row (P4 id
    assignment guarantees it).
    """
    cand = cell_candidates(points, rects)
    return cand.filter(
        (F.col("x") >= F.col("minx")) & (F.col("x") < F.col("maxx"))
        & (F.col("y") >= F.col("miny")) & (F.col("y") < F.col("maxy"))
    )


_pip_schema = T.BooleanType()


def make_pip_udf():
    """Vectorized ray-cast point-in-polygon pandas UDF.

    Polygon rings arrive as ``array<array<double>>`` (ring = interleaved
    x0,y0,x1,y1,...).  Arrow-batched; groups rows by identical geometry to
    vectorize across points sharing a polygon (the common case after a
    cell join).
    """
    from pyspark.sql.functions import pandas_udf

    from ..geo.kernels import points_in_polygon

    @pandas_udf(_pip_schema)
    def pip(x: pd.Series, y: pd.Series, rings: pd.Series) -> pd.Series:
        out = np.zeros(len(x), dtype=bool)
        if len(x) == 0:
            return pd.Series(out)
        xv = x.to_numpy(dtype=np.float64)
        yv = y.to_numpy(dtype=np.float64)
        # group by geometry identity to amortize ring setup
        key = rings.map(lambda r: id(r))
        for _, idx in pd.Series(range(len(x))).groupby(key.values):
            ii = idx.to_numpy()
            r0 = rings.iloc[ii[0]]
            ring_list = [np.asarray(ring, dtype=np.float64).reshape(-1, 2) for ring in r0]
            out[ii] = points_in_polygon(xv[ii], yv[ii], ring_list)
        return pd.Series(out)

    return pip


def point_in_polygon_join(
    points: DataFrame,
    polys: DataFrame,
    point_key: str = "id",
    poly_key: str = "gs_id",
    rings_col: str = "rings",
) -> DataFrame:
    """General PiP join: cell prefilter → bbox codegen filter → exact
    ray-cast UDF.  ``polys`` needs bbox columns + ``rings_col``.

    Shuffle-free for the same reason as :func:`point_in_rect_join`:
    single-cell probes meet one cover row per (poly, cell), so pairs
    are born distinct."""
    cand = cell_candidates(points, polys)
    cand = cand.filter(
        (F.col("x") >= F.col("minx")) & (F.col("x") <= F.col("maxx"))
        & (F.col("y") >= F.col("miny")) & (F.col("y") <= F.col("maxy"))
    )
    pip = make_pip_udf()
    return cand.filter(pip(F.col("x"), F.col("y"), F.col(rings_col)))


def salt_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    hot_keys: DataFrame,
    n_salt: int = 8,
) -> DataFrame:
    """Salted equi-join for keys AQE can't split (single giant key).

    ``hot_keys``: [key] — from engine/skew.py histogram.  Probe rows on a
    hot key get ``salt = pmod(hash(<row>), n_salt)``; build rows on a hot
    key are replicated ×n_salt. Cold keys take salt=0 on both sides, so
    the join key (key, salt) preserves exact semantics.
    """
    hot = F.broadcast(hot_keys.select(F.col(key).alias("_hk")).withColumn("_hot", F.lit(True)))
    p = (
        probe.join(hot, probe[key] == F.col("_hk"), "left")
        .withColumn(
            "_salt",
            F.when(F.col("_hot").isNotNull(),
                   F.pmod(F.hash(*[F.col(c) for c in probe.columns]), F.lit(n_salt)))
            .otherwise(F.lit(0)),
        )
        .drop("_hk", "_hot")
    )
    b = (
        build.join(hot, build[key] == F.col("_hk"), "left")
        .withColumn(
            "_salts",
            F.when(F.col("_hot").isNotNull(), F.sequence(F.lit(0), F.lit(n_salt - 1)))
            .otherwise(F.array(F.lit(0))),
        )
        .withColumn("_salt", F.explode("_salts"))
        .drop("_hk", "_hot", "_salts")
    )
    return p.join(b, [key, "_salt"]).drop("_salt")
