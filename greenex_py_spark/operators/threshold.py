"""Global raster thresholding (Otsu's method) over tiled rasters.

The reference engine never needs thresholding because its rasters are
class maps already; a distributed greenness pipeline does — "which NDVI
cutoff separates vegetated from built-up" is the standard automatic
binarization step before patch metrics (operators/patches.py) or the
greenspace mask, and Otsu (1979) is the canonical answer: pick the
threshold maximizing between-class variance of the gray histogram.

Scale shape: the ONLY corpus-sized work is one `mapInPandas` pass that
reduces each tile to its (level, count) histogram rows (bounded by the
quantized value domain, ~201 levels for NDVI at 1e-2), followed by a
groupBy(level) — map-side combinable — and windows over the
value-domain-sized histogram.  No pixel ever crosses the shuffle.

Exactness: levels are round-half-away integers (the SQL `round` twin),
so the cumulative count/sum columns are exact int64; with |level| <=
quant and N <= 10^6 px per fixture raster every product stays inside
the exact-double window (S*c <= 1e14 < 2^53), and the between-class
variance assembles from those integers in one identical-IEEE
expression — argmax over bit-identical doubles is engine-portable
without rounding.  (At a larger pixel count the integer products stay
EXACT in int64 far beyond 2^53; both engines cast the same exact
integer to double, which rounds identically — the argmax stays
portable.)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..geo.grid import GridSpec
from .focal import _quantized_tiles

__all__ = ["otsu_threshold"]


def otsu_threshold(
    tiles: DataFrame, grid: GridSpec, quant: float = 100.0
) -> DataFrame:
    """One row [thr_level, n_below, n_above, mean_below, mean_above,
    between_var] — Otsu's automatic threshold of the tiled raster at
    value quantization ``1/quant``: the level t maximizing the
    between-class variance

        sigma_B^2(t) = (S*c_t - N*s_t)^2 / (N^2 * c_t * (N - c_t))

    (c_t, s_t = cumulative count / level-sum through t; S, N =
    totals), class-0 being all pixels with level <= t.  Ties break to
    the SMALLEST level.  ``between_var`` is reported in raster-value
    units (divided by quant^2) and left UNROUNDED — it assembles from
    exact integers identically in any engine.
    """
    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, lv in _quantized_tiles(pdf, quant, flat=True):
                levels, counts = np.unique(lv, return_counts=True)
                yield pd.DataFrame(
                    {"level": levels, "cnt": counts.astype(np.int64)}
                )

    h = (
        tiles.select("px")
        .mapInPandas(hist, "level long, cnt long")
        .groupBy("level")
        .agg(F.sum("cnt").alias("c"))
    )
    w_cum = Window.orderBy("level").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    g = (
        h.withColumn("cc", F.sum("c").over(w_cum))
        .withColumn("sc", F.sum(F.col("level") * F.col("c")).over(w_cum))
        .withColumn("n", F.sum("c").over(w_all))
        .withColumn("s", F.sum(F.col("level") * F.col("c")).over(w_all))
        .filter((F.col("cc") >= 1) & (F.col("cc") <= F.col("n") - 1))
    )
    md = (F.col("s") * F.col("cc") - F.col("n") * F.col("sc")).cast("double")
    cd = (F.col("cc") * (F.col("n") - F.col("cc"))).cast("double")
    nd = F.col("n").cast("double")
    qq = F.lit(float(quant)) * F.lit(float(quant))
    scored = g.select(
        F.col("level").cast("long").alias("thr_level"),
        F.col("cc").cast("long").alias("n_below"),
        (F.col("n") - F.col("cc")).cast("long").alias("n_above"),
        F.round(
            F.col("sc").cast("double") / F.col("cc").cast("double")
            / F.lit(float(quant)) + F.lit(0.0),
            6,
        ).alias("mean_below"),
        F.round(
            (F.col("s") - F.col("sc")).cast("double")
            / (F.col("n") - F.col("cc")).cast("double")
            / F.lit(float(quant)) + F.lit(0.0),
            6,
        ).alias("mean_above"),
        (md * md / cd / (nd * nd) / qq).alias("between_var"),
    )
    return scored.orderBy(F.col("between_var").desc(), F.col("thr_level")).limit(1)
