"""Global spatial autocorrelation (Moran's I) over a regular grid.

The reference computes per-location greenness indicators but never a
corpus-level spatial statistic; Moran's I is the standard "is exposure
spatially clustered?" summary a geospatial analytics engine needs
(Moran 1950; the form here is the usual row-raw rook-adjacency global
I, e.g. PySAL's ``esda.Moran`` with binary contiguity weights).

    I = (n / W) * sum_pairs (vi - mu)(vj - mu) / sum_i (vi - mu)^2

with W = number of DIRECTED rook-adjacent pairs and mu = mean(v).

Engine-exactness: the input value must be integer-valued (the callers
pass micro-unit-scaled round-6 values).  With S = sum(v),
P = sum_pairs (vi + vj), the centered sums multiply out to

    n^2 * num = n^2 * sum(vi*vj) - n*S*P + W*S^2      (= A)
    n   * den = n   * sum(vi^2)  - S^2                (= B)
    I = A / (W * B)

A and B are computed in DECIMAL(38,0) — exact integers in any engine —
so the only FP step is one final double division: bit-identical across
Spark and DuckDB, no rounding escape hatch needed.

Spark shape: adjacency is an equi-join — each cell explodes its 4
rook-neighbor keys and joins back on (gx, gy); never an all-pairs or a
theta join, so the pair count is O(cells), not O(cells^2).  Both
reductions are two-phase partial aggregates; the two 1-row aggregates
cross-join at the end (broadcast by construction).  The shape is
scale-free: a continental grid just means more cells through the same
equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["morans_i", "getis_ord_gi", "gini_exposure", "semivariogram", "clark_evans"]

_DEC = "decimal(38,0)"


def morans_i(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """One row [n_cells, w_pairs, morans_i] — global Moran's I of the
    integer-valued ``val_col`` over rook (4-neighbour) adjacency.

    ``cells`` must hold one row per occupied cell; cells with no
    occupied neighbour contribute to n and the denominator but no
    pairs (standard binary-weights behaviour).  ``morans_i`` is null
    when the variance is zero or no pairs exist.
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    vd = F.col("v").cast(_DEC)
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(vd * F.col("v")).alias("svv"),
    )
    nb = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct((F.col("gx") - 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") - 1).alias("gy")),
            )
        ).alias("k"),
        F.col("v").alias("av"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "av")
    avd = F.col("av").cast(_DEC)
    p = nb.join(c, ["gx", "gy"]).agg(
        F.count("*").alias("w"),
        F.coalesce(F.sum(avd * F.col("v")), F.lit(0).cast(_DEC)).alias("spp"),
        F.coalesce(F.sum(avd + vd), F.lit(0).cast(_DEC)).alias("sab"),
    )
    nd = F.col("n").cast(_DEC)
    wd = F.col("w").cast(_DEC)
    a = nd * nd * F.col("spp") - nd * F.col("sv") * F.col("sab") + wd * F.col("sv") * F.col("sv")
    b = nd * F.col("svv") - F.col("sv") * F.col("sv")
    return s.crossJoin(p).select(
        F.col("n").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        (
            a.cast("double")
            / F.nullif(wd.cast("double") * b.cast("double"), F.lit(0.0))
        ).alias("morans_i"),
    )


def getis_ord_gi(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
    hot_z: float = 1.96,
) -> DataFrame:
    """[gx, gy, w_i, gi_z, hot] — local Getis-Ord Gi* hotspot z-score per
    occupied cell (Getis & Ord 1992, the star variant: the 3x3 queen
    neighbourhood INCLUDES the cell itself), binary weights.

    The local complement of :func:`morans_i`: Moran's I says "is exposure
    clustered at all?", Gi* says "*which* cells are the hot spots?".

    Same engine-exactness strategy as morans_i — with integer ``val_col``
    and W_i = occupied neighbours (incl. self), L_i = their value sum,

        A_i = n*L_i - Sv*W_i        (numerator, exact DECIMAL(38,0))
        B   = n*Svv - Sv^2          (global variance term, exact)
        C_i = n*W_i - W_i^2         (weight variance term, exact)
        z_i = A_i * sqrt(n-1) / sqrt(B * C_i)

    so the only FP steps are correctly-rounded IEEE casts / one multiply /
    one sqrt / one divide in a fixed order — bit-identical across Spark
    and DuckDB (gi_z is still rounded to 6 dp per house convention).
    C_i = 0 (every cell in every neighbourhood) yields null.

    Spark shape: each cell explodes its 9 neighbour keys and equi-joins
    back on (gx, gy) — O(cells), never all-pairs; the two 1-row global
    aggregates broadcast via the final cross join.
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    vd = F.col("v").cast(_DEC)
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(vd * F.col("v")).alias("svv"),
    )
    nb = c.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("gx"), (F.col("gy") + dy).alias("gy")
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("k"),
        F.col("v").alias("av"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "av")
    loc = (
        nb.join(c.select("gx", "gy"), ["gx", "gy"])
        .groupBy("gx", "gy")
        .agg(
            F.count("*").alias("w_i"),
            F.sum(F.col("av").cast(_DEC)).alias("li"),
        )
    )
    nd = F.col("n").cast(_DEC)
    wd = F.col("w_i").cast(_DEC)
    a = nd * F.col("li") - F.col("sv") * wd
    b = nd * F.col("svv") - F.col("sv") * F.col("sv")
    ci = nd * wd - wd * wd
    z = F.round(
        a.cast("double")
        * F.sqrt((F.col("n") - 1).cast("double"))
        / F.nullif(F.sqrt(b.cast("double") * ci.cast("double")), F.lit(0.0)),
        6,
    )
    return loc.crossJoin(s).select(
        "gx",
        "gy",
        "w_i",
        z.alias("gi_z"),
        F.coalesce(z >= F.lit(hot_z), F.lit(False)).alias("hot"),
    )


def gini_exposure(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """One row [n_cells, total, gini] — Gini coefficient of the
    non-negative integer ``val_col`` across occupied cells: "how
    unequally is greenness exposure (or corpus mass) distributed over
    space?" — the standard equity summary environmental-justice studies
    pair with the reference's per-location metrics.

        G = sum_i (2*r_i - n - 1) * v_i / (n * sum(v))

    with r_i the 1-based ascending rank by value.  The coefficient sum
    over a tie group depends only on which ranks the group occupies,
    never on the order within it, so G is well-defined under ties.

    Engine-exactness: the numerator is assembled per DISTINCT value —
    a group of count c whose first rank is base+1 contributes
    c*(2*base + c - n) * v — entirely in DECIMAL(38,0); the only FP
    steps are the final division and round-6.

    Scale shape: groupBy(value) first, then a cumsum window over the
    distinct-value table only (same two-level trick as
    functions/sampling.score_percentiles) — no task ever sorts the full
    cell table, and the final reduction is a two-phase aggregate.
    """
    from pyspark.sql import Window

    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    by_v = c.groupBy("v").agg(F.count("*").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_v.select(
        "v", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("base")
    )
    tot = c.agg(
        F.count("*").alias("n"), F.sum(F.col("v").cast(_DEC)).alias("total")
    )
    cd = F.col("c").cast(_DEC)
    num = (
        ranked.crossJoin(tot)
        .select(
            (
                cd
                * (2 * F.col("base").cast(_DEC) + cd - F.col("n").cast(_DEC))
                * F.col("v").cast(_DEC)
            ).alias("g"),
            "n",
            "total",
        )
        .groupBy("n", "total")
        .agg(F.sum("g").alias("gnum"))
    )
    gini = F.round(
        F.col("gnum").cast("double")
        / F.nullif(
            F.col("n").cast("double") * F.col("total").cast("double"), F.lit(0.0)
        ),
        6,
    )
    return num.select(
        F.col("n").alias("n_cells"),
        F.col("total").cast("long").alias("total"),
        gini.alias("gini"),
    )


def semivariogram_offsets(max_lag: int) -> list[tuple[int, int]]:
    """Half-plane lag offsets (dx > 0, or dx = 0 and dy > 0) within
    Euclidean distance ``max_lag`` — the single source of truth both the
    Spark operator and the SQL oracle render, so they cannot drift."""
    return [
        (dx, dy)
        for dx in range(0, max_lag + 1)
        for dy in range(-max_lag, max_lag + 1)
        if (dx > 0 or (dx == 0 and dy > 0))
        and 0 < dx * dx + dy * dy <= max_lag * max_lag
    ]


def semivariogram(
    cells: DataFrame,
    max_lag: int = 3,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
    unit: float = 1.0,
) -> DataFrame:
    """[d2, n_pairs, gamma] — empirical semivariogram of the integer
    ``val_col`` over the grid, one row per squared lag distance class
    0 < dx^2+dy^2 <= max_lag^2 that has pairs:

        gamma(h) = sum_pairs (v_i - v_j)^2 / (2 * n_pairs(h)) / unit^2

    the geostatistics companion to :func:`morans_i` — "over what range
    is exposure spatially structured?" (Matheron 1963).  Pairs are
    unordered and counted once (half-plane offsets: dx > 0, or dx = 0
    and dy > 0).

    ``unit`` de-scales integer micro-unit inputs back to their original
    units (a caller whose v is value*1e6 passes unit=1e6).  This is
    load-bearing for portability, not cosmetics: round(x, 6) of a ~1e11
    double is NOT engine-portable (DuckDB's multiply-by-1e6 rounding
    path overflows 2^53 and lands one ULP away from Spark's BigDecimal
    path), so gamma must be brought to O(1) magnitude BEFORE round-6.

    Engine-exactness: (v_i - v_j)^2 summed in DECIMAL(38,0); gamma is
    the fixed chain  ss -> double, / (2*n), / unit^2, round-6  (unit^2
    a power of ten, exactly representable).

    Spark shape: per-offset equi-joins — each cell explodes its bounded
    half-plane offset ring (O(max_lag^2) keys) and joins back on
    (gx, gy); O(cells x ring), never all-pairs, same scale-free shape
    as the rest of this module.
    """
    offsets = semivariogram_offsets(max_lag)
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    sh = c.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("gx"),
                        (F.col("gy") + dy).alias("gy"),
                        F.lit(dx * dx + dy * dy).alias("d2"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("k"),
        F.col("v").alias("av"),
    ).select("k.gx", "k.gy", "k.d2", "av")
    d = F.col("av").cast(_DEC) - F.col("v").cast(_DEC)
    return (
        sh.join(c, ["gx", "gy"])
        .groupBy("d2")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(d * d).alias("ss"),
        )
        .select(
            "d2",
            "n_pairs",
            F.round(
                F.col("ss").cast("double")
                / (2.0 * F.col("n_pairs").cast("double"))
                / F.lit(float(unit) * float(unit)),
                6,
            ).alias("gamma"),
        )
    )


def join_counts(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    cat_col: str = "cat",
) -> DataFrame:
    """[cat_a, cat_b, joins, expected] — join-count statistics for a
    categorical cell attribute over rook adjacency (Cliff & Ord 1981):
    observed undirected adjacent pairs per unordered category pair
    (cat_a <= cat_b), next to the expectation under nonfree (i.e.
    hypergeometric / randomisation) sampling

        E[J_aa] =     J * n_a (n_a - 1) / (n (n - 1))
        E[J_ab] = 2 * J * n_a n_b       / (n (n - 1))    (a != b)

    with J the total undirected join count — the categorical
    complement of :func:`morans_i` ("do like categories clump?").

    Engine-exactness: all counts exact; the expectation numerator is
    assembled in DECIMAL(38,0), one double division + round-6.

    Spark shape: half-plane rook offsets ((1,0),(0,1)) explode +
    equi-join — each undirected pair produced exactly once, O(cells);
    category totals are a tiny dim joined twice (broadcast).
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(cat_col).alias("cat"),
    )
    sh = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
            )
        ).alias("k"),
        F.col("cat").alias("acat"),
    ).select("k.gx", "k.gy", "acat")
    pairs = sh.join(c, ["gx", "gy"]).select(
        F.least("acat", "cat").alias("cat_a"),
        F.greatest("acat", "cat").alias("cat_b"),
    )
    from pyspark.sql import Window

    # Catalyst does not reuse common subtrees across join arms, so every
    # extra reference to `pairs` / `c` would re-run the (possibly
    # expensive) input pipeline.  Derive J from obs and n from totals
    # with unpartitioned window sums over the TINY aggregated frames —
    # one evaluation of `pairs`, two of `c` (self-join + totals), which
    # is the minimum a self-join statistic admits; persist the input if
    # it is an expensive subtree.
    everything = Window.partitionBy()
    obs = (
        pairs.groupBy("cat_a", "cat_b")
        .agg(F.count("*").alias("joins"))
        .withColumn("jtot", F.sum("joins").over(everything))
    )
    totals = (
        c.groupBy("cat")
        .agg(F.count("*").alias("nc"))
        .withColumn("n", F.sum("nc").over(everything))
    )
    na = F.col("na").cast(_DEC)
    nb = F.col("nb").cast(_DEC)
    jd = F.col("jtot").cast(_DEC)
    nd = F.col("n").cast(_DEC)
    num = F.when(
        F.col("cat_a") == F.col("cat_b"), jd * na * (na - 1)
    ).otherwise(2 * jd * na * nb)
    den = nd * (nd - 1)
    return (
        obs.join(
            F.broadcast(
                totals.select(
                    F.col("cat").alias("cat_a"), F.col("nc").alias("na"), "n"
                )
            ),
            "cat_a",
        )
        .join(
            F.broadcast(
                totals.select(F.col("cat").alias("cat_b"), F.col("nc").alias("nb"))
            ),
            "cat_b",
        )
        .select(
            "cat_a",
            "cat_b",
            "joins",
            F.round(
                num.cast("double")
                / F.nullif(den.cast("double"), F.lit(0.0)),
                6,
            ).alias("expected"),
        )
    )


def ripleys_k(
    points: DataFrame,
    radii: list[float],
    area: float,
    cell_size: float,
    id_col: str = "doc_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """[r, n_pairs, k_hat, l_hat] — Ripley's K point-pattern statistic
    (Ripley 1976, no edge correction) at each radius:

        K(r) = area * n_pairs(r) / (n * (n-1))      (ordered pairs)
        L(r) = sqrt(K(r) / pi)

    "is the corpus MORE clumped than random at radius r?" — the
    point-pattern complement of the field statistics above (CSR
    baseline: K(r) = pi r^2).

    Units are the caller's contract: pass ``area`` in the units k_hat
    should carry (the gate passes km^2 so k_hat stays O(10) — round-6
    of a >1e10 double is not engine-portable, see semivariogram) and
    ``radii``/coords in metres; l_hat is converted back to metres by
    the fixed chain  sqrt(k/pi) * 1000.

    Spark shape: candidate pairs via a bounded cell k-ring equi-join —
    one side explodes its (2k+1)^2 ring (k = ceil(max_r / cell_size)),
    joins back on the cell key, and every ordered pair within max_r is
    produced exactly once (floor is monotone: |x_a - x_b| <= k*cell
    implies |gx_a - gx_b| <= k).  O(n * density * r^2), never global
    all-pairs; per-radius counts are conditional sums in ONE aggregate.
    """
    k = int(-(-max(radii) // cell_size))  # ceil
    p = points.select(
        F.col(id_col).alias("id"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.floor(F.col(x_col) / cell_size).cast("long").alias("gx"),
        F.floor(F.col(y_col) / cell_size).cast("long").alias("gy"),
    )
    ring = [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]
    sh = p.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("gx"), (F.col("gy") + dy).alias("gy")
                    )
                    for dx, dy in ring
                ]
            )
        ).alias("c"),
        F.col("id").alias("aid"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
    ).select("c.gx", "c.gy", "aid", "ax", "ay")
    d2 = (F.col("ax") - F.col("x")) * (F.col("ax") - F.col("x")) + (
        F.col("ay") - F.col("y")
    ) * (F.col("ay") - F.col("y"))
    pairs = (
        sh.join(p, ["gx", "gy"])
        .filter(F.col("aid") != F.col("id"))
        .select(d2.alias("d2"))
    )
    counts = pairs.agg(
        *[
            F.count(F.when(F.col("d2") <= float(r) * float(r), 1)).alias(f"c{i}")
            for i, r in enumerate(radii)
        ]
    )
    n = points.agg(F.count("*").alias("n"))
    stack = ", ".join(f"{float(r)}D, c{i}" for i, r in enumerate(radii))
    out = counts.crossJoin(n).select(
        F.expr(f"stack({len(radii)}, {stack}) AS (r, n_pairs)"), "n"
    )
    kraw = (
        F.lit(float(area)) * F.col("n_pairs").cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    )
    return out.select(
        "r",
        "n_pairs",
        F.round(kraw, 6).alias("k_hat"),
        F.round(
            F.sqrt(kraw / F.lit(3.141592653589793)) * F.lit(1000.0), 6
        ).alias("l_hat"),
    )


def local_morans_i(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """[gx, gy, w_i, local_i, quadrant] — local Moran's I (Anselin 1995
    LISA) per occupied cell, binary rook weights:

        I_i = (v_i - mu) * sum_{j in N(i)} (v_j - mu) / m2,
        m2  = sum_k (v_k - mu)^2 / n

    which multiplies out (S = sum v, L_i = neighbour sum, w_i =
    neighbour count, B = n*Svv - S^2) to the EXACT-integer form

        I_i = (n*v_i - S) * (n*L_i - w_i*S) / B

    in which the numerator product stays in DECIMAL(38,0) — exact
    integers until one double division + round-6.  ``quadrant`` classifies the cell by the exact signs of
    the two centered terms: HH / LL (spatial clusters) vs HL / LH
    (spatial outliers); isolated cells (w_i = 0) get I_i = 0 and the
    lag counts as low.  B = 0 (constant surface) yields null.

    Spark shape: identical to :func:`getis_ord_gi` — 4-key rook explode
    + equi-join, O(cells); LEFT join keeps isolated cells.
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    vd = F.col("v").cast(_DEC)
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(vd * F.col("v")).alias("svv"),
    )
    nb = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct((F.col("gx") - 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") - 1).alias("gy")),
            )
        ).alias("k"),
        F.col("v").alias("av"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "av")
    loc = (
        nb.join(c.select("gx", "gy"), ["gx", "gy"])
        .groupBy("gx", "gy")
        .agg(
            F.count("*").alias("w_i"),
            F.sum(F.col("av").cast(_DEC)).alias("li"),
        )
    )
    full = c.join(loc, ["gx", "gy"], "left").select(
        "gx",
        "gy",
        "v",
        F.coalesce("w_i", F.lit(0)).alias("w_i"),
        F.coalesce("li", F.lit(0).cast(_DEC)).alias("li"),
    )
    nd = F.col("n").cast(_DEC)
    zi = nd * vd - F.col("sv")
    lag = nd * F.col("li") - F.col("w_i").cast(_DEC) * F.col("sv")
    b = nd * F.col("svv") - F.col("sv") * F.col("sv")
    quad = F.concat(
        F.when(zi > 0, F.lit("H")).otherwise(F.lit("L")),
        F.when(lag > 0, F.lit("H")).otherwise(F.lit("L")),
    )
    return full.crossJoin(s).select(
        "gx",
        "gy",
        "w_i",
        F.round(
            (zi * lag).cast("double") / F.nullif(b.cast("double"), F.lit(0.0)), 6
        ).alias("local_i"),
        quad.alias("quadrant"),
    )


def bivariate_morans_i(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """One row [n_cells, w_pairs, morans_ixy] — bivariate (cross)
    Moran's I between two integer cell variables over rook adjacency
    (Wartenberg 1985): "is x at a cell correlated with y NEXT DOOR?"

        I_xy = (n/W) * sum_pairs (x_i - mx)(y_j - my)
               / sqrt(sum (x - mx)^2 * sum (y - my)^2)

    Multiplied out (Sx, Sy sums; P = sum_pairs x_i*y_j; Sxp/Syp = pair
    sums of the source x / target y; Bx = n*Sxx - Sx^2, By likewise):

        A = n^2*P - n*Sy*Sxp - n*Sx*Syp + W*Sx*Sy     (exact)
        I_xy = A / (W * sqrt(Bx * By))

    exact integers until one fixed sqrt/multiply/divide chain; null
    when W = 0 or either variance is 0.  Directed pairs (i -> j), so
    the statistic is asymmetric in (x, y) as defined.

    Spark shape: same 4-key rook explode + equi-join as morans_i, with
    x carried on the source side and y read on the target side.
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    xd = F.col("x").cast(_DEC)
    yd = F.col("y").cast(_DEC)
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    nb = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct((F.col("gx") - 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") - 1).alias("gy")),
            )
        ).alias("k"),
        F.col("x").alias("ax"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "ax")
    axd = F.col("ax").cast(_DEC)
    p = nb.join(c, ["gx", "gy"]).agg(
        F.count("*").alias("w"),
        F.coalesce(F.sum(axd * F.col("y")), F.lit(0).cast(_DEC)).alias("pxy"),
        F.coalesce(F.sum(axd), F.lit(0).cast(_DEC)).alias("sxp"),
        F.coalesce(F.sum(yd), F.lit(0).cast(_DEC)).alias("syp"),
    )
    nd = F.col("n").cast(_DEC)
    wd = F.col("w").cast(_DEC)
    a = (
        nd * nd * F.col("pxy")
        - nd * F.col("sy") * F.col("sxp")
        - nd * F.col("sx") * F.col("syp")
        + wd * F.col("sx") * F.col("sy")
    )
    bx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    by = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.crossJoin(p).select(
        F.col("n").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        F.round(
            a.cast("double")
            / F.nullif(
                wd.cast("double")
                * F.sqrt(bx.cast("double") * by.cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("morans_ixy"),
    )


def slx_regression(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    y_col: str = "y",
    x_col: str = "x",
) -> DataFrame:
    """One row [n_cells, b0, b1, b2] — OLS fit of the SLX (spatial
    lag-of-X) model over the grid, binary rook weights:

        y_i = b0 + b1 * x_i + b2 * (Wx)_i,     (Wx)_i = sum_{j in N(i)} x_j

    "does the NEIGHBOURHOOD's x predict y beyond the cell's own x?" —
    the simplest spatial regression (Halleck Vega & Elhorst 2015), fit
    distributed with EXACT normal equations: every X'X / X'y entry is
    an exact DECIMAL(38,0) sum, the 3x3 system is solved by Cramer's
    rule whose cofactor determinants are polynomials of those integers
    (still exact), and each coefficient is ONE double division +
    round-6 — bit-identical across engines, no iterative solver.

    The spatial lag is the binary-weights SUM (not row-standardized
    mean — a mean would leave integer arithmetic).  Isolated cells get
    lag 0.  A singular system (det = 0, e.g. constant x) yields nulls.

    Scale note: determinant magnitude grows like n * (sum x^2)^2 —
    fine in 38-digit decimals for count-scale variables at any n, but
    production fits on huge-valued variables should pre-scale x (the
    gate regresses exposure mass on document counts, which keeps every
    determinant < 1e21).

    Spark shape: one rook explode + equi-join for the lag, then a
    single 9-sum global aggregate (two-phase) and a 1-row projection.
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(y_col).cast("long").alias("y"),
        F.col(x_col).cast("long").alias("x"),
    )
    nb = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct((F.col("gx") - 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") - 1).alias("gy")),
            )
        ).alias("k"),
        F.col("x").alias("ax"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "ax")
    lag = nb.join(c.select("gx", "gy"), ["gx", "gy"]).groupBy("gx", "gy").agg(
        F.sum(F.col("ax").cast(_DEC)).alias("z")
    )
    full = c.join(lag, ["gx", "gy"], "left").select(
        "y", "x", F.coalesce("z", F.lit(0).cast(_DEC)).alias("z")
    )
    xd, yd, zd = F.col("x").cast(_DEC), F.col("y").cast(_DEC), F.col("z")
    s = full.agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(zd).alias("sz"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(zd * zd).alias("szz"),
        F.sum(xd * zd).alias("sxz"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(zd * yd).alias("szy"),
    )

    def det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
        return (
            a11 * (a22 * a33 - a23 * a32)
            - a12 * (a21 * a33 - a23 * a31)
            + a13 * (a21 * a32 - a22 * a31)
        )

    nd = F.col("n").cast(_DEC)
    sx, sz, sy = F.col("sx"), F.col("sz"), F.col("sy")
    sxx, szz, sxz = F.col("sxx"), F.col("szz"), F.col("sxz")
    sxy, szy = F.col("sxy"), F.col("szy")
    d = det3(nd, sx, sz, sx, sxx, sxz, sz, sxz, szz)
    d0 = det3(sy, sx, sz, sxy, sxx, sxz, szy, sxz, szz)
    d1 = det3(nd, sy, sz, sx, sxy, sxz, sz, szy, szz)
    d2 = det3(nd, sx, sy, sx, sxx, sxy, sz, sxz, szy)
    dd = F.nullif(d.cast("double"), F.lit(0.0))
    return s.select(
        F.col("n").alias("n_cells"),
        F.round(d0.cast("double") / dd, 6).alias("b0"),
        F.round(d1.cast("double") / dd, 6).alias("b1"),
        F.round(d2.cast("double") / dd, 6).alias("b2"),
    )


def gearys_c(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """One row [n_cells, w_pairs, gearys_c] — Geary's C contiguity
    ratio over rook adjacency (Geary 1954), the difference-based
    complement of Moran's I (C < 1 clustering, C > 1 dispersion;
    sensitive to local differences where I is to covariance):

        C = (n-1) * sum_pairs (v_i - v_j)^2 / (2W * sum_i (v_i - mu)^2)

    With P2 = sum_pairs (v_i - v_j)^2 (exact) and B = n*Svv - S^2
    (so sum (v-mu)^2 = B/n) this is the exact-integer ratio

        C = (n-1) * n * P2 / (2 * W * B)

    — one double division + no rounding escape (same contract as
    morans_i).  Null when W = 0 or the variance is 0.

    Spark shape: identical 4-key rook explode + equi-join, O(cells).
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    vd = F.col("v").cast(_DEC)
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(vd * F.col("v")).alias("svv"),
    )
    nb = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct((F.col("gx") - 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") - 1).alias("gy")),
            )
        ).alias("k"),
        F.col("v").alias("av"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "av")
    d = F.col("av").cast(_DEC) - vd
    p = nb.join(c, ["gx", "gy"]).agg(
        F.count("*").alias("w"),
        F.coalesce(F.sum(d * d), F.lit(0).cast(_DEC)).alias("p2"),
    )
    nd = F.col("n").cast(_DEC)
    wd = F.col("w").cast(_DEC)
    b = nd * F.col("svv") - F.col("sv") * F.col("sv")
    num = (nd - 1) * nd * F.col("p2")
    den = 2 * wd * b
    return s.crossJoin(p).select(
        F.col("n").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        (
            num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0))
        ).alias("gearys_c"),
    )


def general_g(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    val_col: str = "v",
) -> DataFrame:
    """One row [n_cells, w_pairs, general_g, expected_g] — Getis-Ord
    General G high/low concentration statistic over rook adjacency
    (Getis & Ord 1992; requires non-negative values):

        G    = sum_pairs v_i * v_j / sum_{i != j} v_i * v_j
        E[G] = W / (n (n - 1))

    G > E[G] means HIGH values concentrate near each other — the
    global yes/no the local Gi* drills into.  The denominator over all
    ordered i != j pairs is S^2 - Svv (exact), so both ratios are
    exact-integer numerator/denominator with one double division each
    (round-6).

    Spark shape: identical 4-key rook explode + equi-join, O(cells) —
    the all-pairs denominator needs only the two global sums, never a
    pair join.
    """
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(val_col).cast("long").alias("v"),
    )
    vd = F.col("v").cast(_DEC)
    s = c.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("sv"),
        F.sum(vd * F.col("v")).alias("svv"),
    )
    nb = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct((F.col("gx") - 1).alias("gx"), F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") + 1).alias("gy")),
                F.struct(F.col("gx").alias("gx"), (F.col("gy") - 1).alias("gy")),
            )
        ).alias("k"),
        F.col("v").alias("av"),
    ).select(F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"), "av")
    p = nb.join(c, ["gx", "gy"]).agg(
        F.count("*").alias("w"),
        F.coalesce(F.sum(F.col("av").cast(_DEC) * F.col("v")), F.lit(0).cast(_DEC)).alias(
            "pp"
        ),
    )
    nd = F.col("n").cast(_DEC)
    wd = F.col("w").cast(_DEC)
    den = F.col("sv") * F.col("sv") - F.col("svv")
    return s.crossJoin(p).select(
        F.col("n").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        F.round(
            F.col("pp").cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("general_g"),
        F.round(
            wd.cast("double")
            / F.nullif(
                nd.cast("double") * (nd - 1).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("expected_g"),
    )


def grid_category_entropy(
    cells: DataFrame,
    categories: tuple[str, ...],
    cat_col: str = "lang",
    count_col: str = "lcnt",
) -> DataFrame:
    """[gx, gy, n_docs, richness, entropy] — Shannon diversity of a
    categorical variable per grid cell (geographic LANGUAGE DIVERSITY
    when fed per-cell language counts: the webtext x geo cross, the
    diversity complement of q_join_counts' dominant-category adjacency).

        H = -sum_c p_c ln p_c,   p_c = n_c / n

    Exactness: the category set is a FIXED ORDERED tuple, so the
    entropy sum is a fixed-length expression chain (t_1 + t_2 + ...),
    not a data-ordered aggregate — both engines evaluate the identical
    IEEE chain and round-6 agrees (the ln/exp portability precedent of
    the NDVI sin/cos oracle).  Zero-count categories contribute an
    exact 0 term.

    Shape: one conditional-sum pivot per category over a single
    groupBy(gx, gy) — map-side combinable, category count is a
    constant, no second pass, no window.
    """
    aggs = [
        F.sum(
            F.when(F.col(cat_col) == c, F.col(count_col)).otherwise(F.lit(0))
        ).alias(f"_n{i}")
        for i, c in enumerate(categories)
    ]
    g = cells.groupBy("gx", "gy").agg(
        F.sum(count_col).alias("n_docs"), *aggs
    )
    n = F.col("n_docs").cast("double")
    terms = []
    rich = None
    for i in range(len(categories)):
        nc = F.col(f"_n{i}")
        p = nc.cast("double") / n
        terms.append(F.when(nc == 0, F.lit(0.0)).otherwise(p * F.log(p)))
        r = F.when(nc > 0, F.lit(1)).otherwise(F.lit(0))
        rich = r if rich is None else rich + r
    h = terms[0]
    for t in terms[1:]:
        h = h + t
    return g.select(
        "gx",
        "gy",
        F.col("n_docs").cast("long").alias("n_docs"),
        rich.cast("long").alias("richness"),
        # + 0.0 flushes IEEE -0.0 (single-category cells negate an exact
        # 0 sum) so both engines hash the same "0.0"
        F.round(-h + F.lit(0.0), 6).alias("entropy"),
    )


def mann_kendall_trend(
    cells: DataFrame,
    key_cols: tuple[str, ...] = ("gx", "gy"),
    bin_col: str = "bin",
    val_col: str = "v",
    n_bins: int = 30,
    hot_z: float = 1.96,
) -> DataFrame:
    """[*key, s_stat, var_num, mk_z, trend] — Mann-Kendall monotonic
    trend per key over a DENSE time-bin series (ESRI "emerging hot
    spot" core: is this cell's activity rising or falling?).

    Input rows are the OCCUPIED (key, bin, value) triples; bins
    [0, n_bins) are zero-filled per occupied key before pairing, so
    absence counts as zero activity (the emerging-from-nothing case).

        S    = sum over bin pairs i<j of sign(v_j - v_i)   (exact int)
        VarS = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18    (tie-adjusted)
        z    = (S -/+ 1) / sqrt(var_num / 18.0),  z = 0 when S = 0

    Everything is integer until the single sqrt+divide (round-6);
    trend labels compare the ROUNDED z to ±hot_z so the label can
    never disagree with the printed score.

    Shape: the bin dim (n_bins rows) is broadcast for the dense fill;
    the pair join is a self-equi-join on the key — per-task work is
    O(n_bins²) with n_bins bounded by the analysis window, never by
    the corpus; one final per-key aggregate.  A cell with no
    variation (all bins tied) gets z = 0 via the S = 0 branch.
    """
    kc = list(key_cols)
    c = cells.select(
        *kc,
        F.col(bin_col).cast("long").alias("_b"),
        F.col(val_col).cast("long").alias("_v"),
    )
    spark = cells.sparkSession
    bins = spark.range(n_bins).select(F.col("id").alias("_b"))
    keys = c.select(*kc).distinct()
    dense = (
        keys.crossJoin(F.broadcast(bins))
        .join(c, kc + ["_b"], "left")
        .select(*kc, "_b", F.coalesce(F.col("_v"), F.lit(0)).alias("_v"))
    )
    a = dense.select(*kc, F.col("_b").alias("_b1"), F.col("_v").alias("_v1"))
    b = dense.select(*kc, F.col("_b").alias("_b2"), F.col("_v").alias("_v2"))
    sgn = (
        F.when(F.col("_v2") > F.col("_v1"), 1)
        .when(F.col("_v2") < F.col("_v1"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, kc)
        .filter(F.col("_b1") < F.col("_b2"))
        .groupBy(*kc)
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    t = (
        dense.groupBy(*kc, "_v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*kc)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).cast("long").alias("_ties")
        )
    )
    n = n_bins
    base = n * (n - 1) * (2 * n + 5)
    j = s.join(t, kc)
    var_num = (F.lit(base) - F.col("_ties")).cast("long")
    sd = F.sqrt(var_num.cast("double") / 18.0)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    zr = F.round(z + F.lit(0.0), 6)
    trend = (
        F.when(zr >= hot_z, F.lit("increasing"))
        .when(zr <= -hot_z, F.lit("decreasing"))
        .otherwise(F.lit("none"))
    )
    return j.select(
        *kc,
        "s_stat",
        var_num.alias("var_num"),
        zr.alias("mk_z"),
        trend.alias("trend"),
    )


def spatial_moments(
    points: DataFrame,
    group_col: str = "source",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """[group, n, mean_x, mean_y, var_x, var_y, cov_xy] — per-group
    spatial first/second moments (the standard-deviational-ellipse
    core: mean centre + covariance of a group's geographic footprint —
    which domains publish locally vs globally, the webtext×geo cross).

    Engine exactness: coordinates quantized to integer micrometers at
    the scan, all sums exact DECIMAL(38,0)/HUGEINT, and the centered
    second moments use the house integer-numerator form

        var = (n·Sxx − Sx²) / n²        (numerator EXACT — no
                                         catastrophic cancellation in
                                         floating point)

    then ONE cast-to-double division chain, de-scaled by 1e12 (µm² →
    m², the SCALE_AUDIT large-magnitude-round lesson) before round-6.
    Population (not sample) variance, matching the zonal A1 family.
    Shape: one two-phase aggregate on the group key; nothing else.
    """
    xq = F.round(F.col(x_col) * 1.0e6, 0).cast("long")
    yq = F.round(F.col(y_col) * 1.0e6, 0).cast("long")
    q = points.select(
        F.col(group_col).alias("grp"),
        xq.cast(_DEC).alias("_x"),
        yq.cast(_DEC).alias("_y"),
    )
    a = q.groupBy("grp").agg(
        F.count(F.lit(1)).cast(_DEC).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("_n")
    nd = n.cast("double")

    def _ctr(s2, s1a, s1b):
        num = (n * F.col(s2) - F.col(s1a) * F.col(s1b)).cast("double")
        return F.round(num / nd / nd / 1.0e12 + F.lit(0.0), 6)

    return a.select(
        F.col("grp").alias(group_col),
        n.cast("long").alias("n"),
        F.round(F.col("_sx").cast("double") / nd / 1.0e6, 6).alias("mean_x"),
        F.round(F.col("_sy").cast("double") / nd / 1.0e6, 6).alias("mean_y"),
        _ctr("_sxx", "_sx", "_sx").alias("var_x"),
        _ctr("_syy", "_sy", "_sy").alias("var_y"),
        _ctr("_sxy", "_sx", "_sy").alias("cov_xy"),
    )


def quadrat_csr(
    points: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    origin: tuple[float, float] = (0.0, 0.0),
    extent: float = 1.0,
    k_side: int = 10,
) -> DataFrame:
    """One row [n_points, n_quadrats, chi2, vmr] — quadrat-count test
    of complete spatial randomness (the classic χ² companion of
    Ripley's K): the extent is cut into k_side² equal quadrats, and
    with O_i the per-quadrat counts (EMPTY quadrats included — they
    contribute 0 to ΣO² and are accounted for by the fixed k),

        χ²  = k·ΣO²/N − N            (algebraic form of Σ(O−E)²/E)
        VMR = ΣO²/N − N/k            (variance-mean ratio; 1 ⇔ Poisson)

    ΣO² and N are exact integers; each statistic is ONE division chain
    + round-6.  Points outside the extent are clamped into the border
    quadrats (floor-clamp), so N is the full point count.
    Shape: one two-phase aggregate on the quadrat key, then a 1-row
    reduction — nothing driver-side.
    """
    ox, oy = origin
    side = extent / k_side
    gx = F.least(
        F.lit(k_side - 1),
        F.greatest(F.lit(0), F.floor((F.col(x_col) - ox) / side).cast("long")),
    )
    gy = F.least(
        F.lit(k_side - 1),
        F.greatest(F.lit(0), F.floor((F.col(y_col) - oy) / side).cast("long")),
    )
    counts = (
        points.select(gx.alias("qx"), gy.alias("qy"))
        .groupBy("qx", "qy")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    k = k_side * k_side
    t = counts.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(F.col("o") * F.col("o")).cast("long").alias("soq"),
    )
    nd = F.col("n").cast("double")
    chi2 = F.round((F.lit(k) * F.col("soq")).cast("double") / nd - nd, 6)
    vmr = F.round(
        F.col("soq").cast("double") / nd - nd / F.lit(float(k)), 6
    )
    return t.select(
        F.col("n").alias("n_points"),
        F.lit(k).cast("long").alias("n_quadrats"),
        chi2.alias("chi2"),
        vmr.alias("vmr"),
    )


def cross_k(
    points_a: DataFrame,
    points_b: DataFrame,
    radii: list[float],
    area: float,
    cell_size: float,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """[r, n_pairs, k_hat] — bivariate (cross) Ripley's K between two
    point processes (Lotwick & Silverman 1982, no edge correction):

        K_ab(r) = area * n_pairs(r) / (n_a * n_b)

    with n_pairs the (a, b) pairs within r — "does the corpus cluster
    AROUND greenspace beyond chance?", the attraction/repulsion
    companion of the univariate :func:`ripleys_k` (CSR-independence
    baseline: K_ab(r) = pi r^2).

    Same bounded cell k-ring pair production as ripleys_k (the a side
    explodes its ring, b keeps its home cell — every cross pair within
    max_r produced exactly once); per-radius counts are conditional
    sums in ONE aggregate; pass ``area`` pre-de-scaled (km²) so k_hat
    rounds portably.
    """
    k = int(-(-max(radii) // cell_size))  # ceil
    def keyed(df, prefix):
        return df.select(
            F.col(x_col).alias(f"{prefix}x"),
            F.col(y_col).alias(f"{prefix}y"),
            F.floor(F.col(x_col) / cell_size).cast("long").alias("gx"),
            F.floor(F.col(y_col) / cell_size).cast("long").alias("gy"),
        )
    a = keyed(points_a, "a")
    b = keyed(points_b, "b")
    ring = [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]
    sh = a.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("gx"),
                        (F.col("gy") + dy).alias("gy"),
                    )
                    for dx, dy in ring
                ]
            )
        ).alias("c"),
        "ax", "ay",
    ).select("c.gx", "c.gy", "ax", "ay")
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = sh.join(b, ["gx", "gy"]).select(d2.alias("d2"))
    counts = pairs.agg(
        *[
            F.count(F.when(F.col("d2") <= float(r) * float(r), 1)).alias(f"c{i}")
            for i, r in enumerate(radii)
        ]
    )
    na = points_a.agg(F.count("*").alias("na"))
    nb = points_b.agg(F.count("*").alias("nb"))
    stack = ", ".join(f"{float(r)}D, c{i}" for i, r in enumerate(radii))
    out = counts.crossJoin(na).crossJoin(nb).select(
        F.expr(f"stack({len(radii)}, {stack}) AS (r, n_pairs)"), "na", "nb"
    )
    kraw = (
        F.lit(float(area)) * F.col("n_pairs").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return out.select("r", "n_pairs", F.round(kraw, 6).alias("k_hat"))


def colocation_quotient(
    points: DataFrame,
    cat_col: str = "lang",
    id_col: str = "doc_id",
    nn_bound: float = 300.0,
) -> DataFrame:
    """[cat_a, cat_b, n_a, n_b, c_ab, clq] — co-location quotient
    (Leslie & Kronenfeld 2011): for each category pair, how often is an
    A point's nearest neighbour a B point, relative to B's share of the
    rest of the pattern?

        CLQ_ab = (C_ab / N_a) / (N_b' / (N-1)),  N_b' = N_b - [a = b]
               = C_ab · (N-1) / (N_a · N_b')          (integer ratio!)

    The 1-NN is ranked on the EXACT squared distance (never sqrt —
    IEEE sqrt compresses distinct d² onto equal doubles, which would
    flip id-tiebreaks against the oracle) with id as tiebreak, found by
    the house bounded tier: the b side replicates to the cells its
    ``nn_bound`` pad covers, candidates beyond the bound are discarded
    (the pad guarantee makes an in-bound best provably global), and the
    rare out-of-bound remainder takes ONE exact fallback tier — the
    MISSED side is what gets broadcast against the corpus, never the
    reverse.  All counts integer; one round-6 division.
    """
    from pyspark.sql import Window

    from .spatial_join import bbox_cover_cells, with_point_cell

    p = points.select(id_col, cat_col, "x", "y")
    b = p.select(
        F.col(id_col).alias("nid"), F.col(cat_col).alias("cat_b"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    cover = bbox_cover_cells(
        b, pad=nn_bound, minx="bx", miny="by", maxx="bx", maxy="by"
    )
    a = with_point_cell(p)
    d2 = (F.col("bx") - F.col("x")) * (F.col("bx") - F.col("x")) + (
        F.col("by") - F.col("y")
    ) * (F.col("by") - F.col("y"))
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("nid").asc())
    bounded = (
        a.join(cover, "cell")
        .filter(F.col("nid") != F.col(id_col))
        .withColumn("_d2", d2)
        .filter(F.col("_d2") <= nn_bound * nn_bound)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col(cat_col).alias("cat_a"), "cat_b")
    )
    missed = a.join(bounded.select(id_col), id_col, "left_anti")
    fallback = (
        F.broadcast(missed.select(id_col, cat_col, "x", "y"))
        .join(b, F.col("nid") != F.col(id_col))
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col(cat_col).alias("cat_a"), "cat_b")
    )
    nn = bounded.unionByName(fallback)
    c_ab = nn.groupBy("cat_a", "cat_b").agg(F.count(F.lit(1)).alias("c_ab"))
    sizes = p.groupBy(cat_col).agg(F.count(F.lit(1)).alias("n"))
    n_tot = p.count()
    na = sizes.select(F.col(cat_col).alias("cat_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(cat_col).alias("cat_b"), F.col("n").alias("n_b"))
    nb_eff = F.col("n_b") - F.when(F.col("cat_a") == F.col("cat_b"), 1).otherwise(0)
    return (
        c_ab.join(F.broadcast(na), "cat_a")
        .join(F.broadcast(nb), "cat_b")
        .select(
            "cat_a", "cat_b", "n_a", "n_b", "c_ab",
            F.round(
                (F.col("c_ab") * F.lit(int(n_tot) - 1)).cast("double")
                / (F.col("n_a") * nb_eff).cast("double"),
                6,
            ).alias("clq"),
        )
    )


def clark_evans(
    points: DataFrame,
    area: float,
    id_col: str = "doc_id",
    nn_bound: float = 300.0,
) -> DataFrame:
    """[n_pts, sum_dq, r_ce] — Clark & Evans (1954) nearest-neighbour
    index, the classic one-number aggregation-vs-dispersion test that
    complements the quadrat CSR counts (quadrat_csr) and Ripley's K:

        R = mean(1-NN distance) / (0.5 · sqrt(area / n))

    R < 1 clustered, ≈ 1 CSR, → 2.149 perfectly dispersed.

    The 1-NN distance comes from the house bounded cell tier (same
    shape as colocation_quotient: in-bound candidates provably global,
    one exact broadcast fallback for the rare missed points, ranked on
    exact d² with id tiebreak).  Each distance is quantised
    ``floor(sqrt(d²)·1e6 + 0.5)`` — IEEE sqrt is correctly rounded, so
    the int is engine-portable — then summed exactly; the two divisions
    (mean, ratio) run in Catalyst in the same association order the
    oracle renders.
    """
    from pyspark.sql import Window

    from .spatial_join import bbox_cover_cells, with_point_cell

    p = points.select(id_col, "x", "y")
    b = p.select(
        F.col(id_col).alias("nid"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    cover = bbox_cover_cells(
        b, pad=nn_bound, minx="bx", miny="by", maxx="bx", maxy="by"
    )
    a = with_point_cell(p)
    d2 = (F.col("bx") - F.col("x")) * (F.col("bx") - F.col("x")) + (
        F.col("by") - F.col("y")
    ) * (F.col("by") - F.col("y"))
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("nid").asc())
    bounded = (
        a.join(cover, "cell")
        .filter(F.col("nid") != F.col(id_col))
        .withColumn("_d2", d2)
        .filter(F.col("_d2") <= nn_bound * nn_bound)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "_d2")
    )
    missed = a.join(bounded.select(id_col), id_col, "left_anti")
    fallback = (
        F.broadcast(missed.select(id_col, "x", "y"))
        .join(b, F.col("nid") != F.col(id_col))
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "_d2")
    )
    nn = bounded.unionByName(fallback)
    dq = F.floor(F.sqrt(F.col("_d2")) * 1000000.0 + F.lit(0.5)).cast("long")
    agg = nn.agg(
        F.count(F.lit(1)).alias("n_pts"), F.sum(dq).alias("sum_dq")
    )
    mean_d = F.col("sum_dq").cast("double") / F.col("n_pts").cast("double") / F.lit(1000000.0)
    expected = 0.5 * F.sqrt(F.lit(float(area)) / F.col("n_pts").cast("double"))
    return agg.select(
        "n_pts", "sum_dq", F.round(mean_d / expected, 6).alias("r_ce")
    )


def segregation_indices(
    pts: DataFrame,
    cell_col: str = "cell",
    grp_col: str = "grp",
    quant: int = 10**9,
) -> DataFrame:
    """[grp, n_members, n_cells, dissimilarity, isolation] — the two
    canonical residential-segregation measures (Duncan & Duncan 1955;
    Bell 1954) of how each group distributes over grid cells — applied
    here to language communities of the geocoded web corpus, the
    spatial-equity complement of gini_exposure:

        D(g)  = ½ Σ_i |a_i/A − b_i/B|          (dissimilarity vs rest)
        P*(g) = Σ_i (a_i/A)·(a_i/t_i)          (isolation)

    with a_i the group count in cell i, b_i = t_i − a_i the rest,
    A/B the group/rest totals.  Exactness: D is assembled as the exact
    integer numerator Σ|a_i·B − b_i·A| (cells where a_i = 0 contribute
    t_i·A, folded in as (N − Σ_present t_i)·A so absent (cell, grp)
    rows never need materializing); P* quantizes each a_i²/t_i term to
    1/``quant`` by integer division, making the sum order-free.  The
    only FP steps are two final divisions + round-6.  int64 headroom:
    terms are bounded by N·quant — switch the sums to DECIMAL(38,0)
    beyond ~10⁹ members per group.

    Scale shape: one partial aggregate to the (cell, grp) frame (map-
    side combinable; the shuffle carries cell-level rows), then three
    window sums over that dim-sized frame — never a join-back (the
    no-CSE rule), never a second pass over the points."""
    from pyspark.sql import Window

    cl = pts.groupBy(
        F.col(cell_col).alias("cell"), F.col(grp_col).alias("grp")
    ).agg(F.count(F.lit(1)).alias("a"))
    w = (
        cl.withColumn("ct", F.sum("a").over(Window.partitionBy("cell")))
        .withColumn("ga", F.sum("a").over(Window.partitionBy("grp")))
        .withColumn("nn", F.sum("a").over(Window.partitionBy()))
    )
    a, ct, ga, nn = (F.col(c).cast("long") for c in ("a", "ct", "ga", "nn"))
    term_d = F.abs(a * (nn - ga) - (ct - a) * ga)
    # integer div (never FP /): a²·quant reaches ~2.5e16 > 2^53
    term_iso = F.expr(f"(a * a * CAST({quant} AS BIGINT)) div ct")
    g = w.groupBy("grp").agg(
        F.max(ga).alias("n_members"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max(nn).alias("_nn"),
        F.sum(term_d).cast("long").alias("_dsum"),
        F.sum(ct).cast("long").alias("_tsum"),
        F.sum(term_iso).cast("long").alias("_isum"),
    )
    dnum = (
        F.col("_dsum")
        + (F.col("_nn") - F.col("_tsum")) * F.col("n_members")
    )
    bb = F.col("_nn") - F.col("n_members")
    return g.select(
        "grp",
        "n_members",
        "n_cells",
        F.round(
            dnum.cast("double")
            / (
                F.lit(2.0)
                * F.col("n_members").cast("double")
                * bb.cast("double")
            ),
            6,
        ).alias("dissimilarity"),
        F.round(
            F.col("_isum").cast("double")
            / F.lit(float(quant))
            / F.col("n_members").cast("double"),
            6,
        ).alias("isolation"),
    )


def gwr_local(
    cells: DataFrame,
    offsets: list[tuple[int, int, int]],
    gx_col: str = "gx",
    gy_col: str = "gy",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """[gx, gy, sw, beta, alpha] — geographically weighted regression
    (Fotheringham et al. 2002), simple-regression form: at every
    occupied cell a LOCAL weighted least-squares fit y ~ α + β·x over
    the neighbouring occupied cells, with kernel weights supplied as
    pre-quantized INTEGER ``offsets`` [(dx, dy, w)] — the Gaussian
    kernel over a bounded k-ring, so the weight of each relative
    offset is a compile-time literal and every normal-equation moment

        Sw, Swx, Swy, Swxx, Swxy   (DECIMAL(38,0), exact)

    is integer.  β and α come from Cramer's rule as exact integer
    ratios — β = (Sw·Swxy − Swx·Swy) / (Sw·Swxx − Swx²),
    α = (Swxx·Swy − Swx·Swxy) / same — one double division + round-6
    each; a zero denominator (constant x in the neighbourhood) yields
    null.  This is the LOCAL complement of slx_regression's single
    global fit: "where does corpus density buy greenness, and where
    doesn't it?".

    Shape: each cell explodes its |offsets| neighbour keys and
    equi-joins back on the occupied-cell frame — O(cells·k), never
    all-pairs, the getis_ord/moran pattern; one aggregate on the
    target key."""
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    nb = c.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("gx"),
                        (F.col("gy") + dy).alias("gy"),
                        F.lit(w).cast("long").alias("w"),
                    )
                    for dx, dy, w in offsets
                ]
            )
        ).alias("k"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
    ).select(
        F.col("k.gx").alias("gx"), F.col("k.gy").alias("gy"),
        F.col("k.w").alias("w"), "nx", "ny",
    )
    wd = F.col("w").cast(_DEC)
    xd = F.col("nx").cast(_DEC)
    yd = F.col("ny").cast(_DEC)
    m = (
        nb.join(c.select("gx", "gy"), ["gx", "gy"])
        .groupBy("gx", "gy")
        .agg(
            F.sum(wd).alias("sw"),
            F.sum(wd * xd).alias("swx"),
            F.sum(wd * yd).alias("swy"),
            F.sum(wd * xd * xd).alias("swxx"),
            F.sum(wd * xd * yd).alias("swxy"),
        )
    )
    den = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    bnum = F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")
    anum = F.col("swxx") * F.col("swy") - F.col("swx") * F.col("swxy")
    return m.select(
        "gx", "gy",
        F.col("sw").cast("long").alias("sw"),
        F.round(
            bnum.cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("beta"),
        F.round(
            anum.cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("alpha"),
    )


def contagion(
    cells: DataFrame,
    gx_col: str = "gx",
    gy_col: str = "gy",
    cat_col: str = "cat",
) -> DataFrame:
    """One row [n_cells, n_pairs, m_classes, contagion] — O'Neill
    (1988) relative contagion of a categorical cell map over rook
    adjacency: 1 + Σ_{i,j} Q_ij·ln(Q_ij) / (2·ln m) where Q_ij is the
    ORDERED adjacent-pair distribution and m the number of classes
    present — 1 for a single solid blob, →0 for a maximally
    interspersed salt-and-pepper map.  The landscape-ecology
    aggregation interspersion number that complements
    :func:`join_counts`' per-pair detail.

    Engine-exactness: each Q·ln(Q) term is 1e-9-quantized on the
    identical IEEE chain (p = cnt/tot double division, p·ln(p), floor
    ·1e9+0.5) and summed as exact int64; the final assembly is
    1.0 + (sum/1e9)/(2·ln(m)), NULL when m ≤ 1 or no pairs exist.

    Spark shape: the same half-plane offset explode + equi-join as
    join_counts (each undirected pair exactly once, O(cells)), then
    both ordered directions are emitted before the dim-sized
    class-pair aggregate; totals ride unpartitioned window sums over
    that TINY frame (the no-CSE rule — never join back)."""
    c = cells.select(
        F.col(gx_col).alias("gx"),
        F.col(gy_col).alias("gy"),
        F.col(cat_col).alias("cat"),
    )
    sh = c.select(
        F.explode(
            F.array(
                F.struct((F.col("gx") + 1).alias("gx"),
                         F.col("gy").alias("gy")),
                F.struct(F.col("gx").alias("gx"),
                         (F.col("gy") + 1).alias("gy")),
            )
        ).alias("k"),
        F.col("cat").alias("acat"),
    ).select("k.gx", "k.gy", "acat")
    up = sh.join(c, ["gx", "gy"]).select(
        F.col("acat").alias("a"), F.col("cat").alias("b")
    )
    ordered = up.unionByName(
        up.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    from pyspark.sql import Window

    everything = Window.partitionBy()
    obs = (
        ordered.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("tot", F.sum("cnt").over(everything).cast("long"))
    )
    p = F.col("cnt").cast("double") / F.col("tot").cast("double")
    ent = obs.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_ordered"),
        F.coalesce(
            F.sum(F.floor(p * F.log(p) * 1000000000.0 + 0.5).cast("long")),
            F.lit(0),
        ).cast("long").alias("ent_q"),
    )
    stats = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.countDistinct("cat").cast("long").alias("m_classes"),
    )
    return stats.crossJoin(F.broadcast(ent)).select(
        "n_cells",
        (F.col("n_ordered") / 2).cast("long").alias("n_pairs"),
        "m_classes",
        F.when(
            (F.col("m_classes") <= 1) | (F.col("n_ordered") == 0),
            F.lit(None).cast("double"),
        ).otherwise(
            F.lit(1.0)
            + (F.col("ent_q").cast("double") / 1000000000.0)
            / (2.0 * F.log(F.col("m_classes").cast("double")))
        ).alias("contagion"),
    )


def kulldorff_scan(
    cells: DataFrame,
    n_gx: int,
    n_gy: int,
    radii: tuple = (1, 2, 3),
    top_n: int = 10,
    gx_col: str = "gx",
    gy_col: str = "gy",
    cnt_col: str = "cnt",
) -> DataFrame:
    """[gx, gy, r, n_in, a_cells, llr] — Kulldorff spatial scan
    statistic over square windows (Kulldorff 1997, Poisson/area null):
    for every occupied cell and window half-width r the log-likelihood
    ratio of "this (2r+1)² box is a hotspot" under the CSR baseline
    E = N·a/A (a = in-extent cells of the box, A = total grid cells),
    LLR = n·ln(n/E) + (N−n)·ln((N−n)/(N−E)) for high clusters
    (n > E, else 0) — the detection statistic that localizes what
    q_getis_ord scores per cell and q_quadrat_csr tests globally,
    reporting the top-N windows.

    Exactness: window counts n and areas a are exact int64 (offset
    explode + one (center, r)-keyed sum; a is closed-form from the
    border clamps); the LLR is ONE fixed IEEE chain per window,
    1e-6-quantized to int64 BEFORE the ranking, so the top-N order
    compares integers (ties r, gx, gy ascending) and llr ships as
    llr_q/1e6.

    Scale: the only non-dim work is the offset explode — Σ(2r+1)²
    rows per occupied cell — and one shuffle on the window center;
    candidate centers are occupied cells (documented restriction: a
    hotspot centre contains points)."""
    spark = cells.sparkSession
    c = cells.select(
        F.col(gx_col).alias("gx"), F.col(gy_col).alias("gy"),
        F.col(cnt_col).cast("long").alias("cnt"),
    ).localCheckpoint()  # centers + shifted contributions + total
    tot = c.agg(F.sum("cnt").cast("long").alias("nn"))
    offs = spark.createDataFrame(
        [(r, dx, dy) for r in radii
         for dx in range(-r, r + 1) for dy in range(-r, r + 1)],
        "r long, dx long, dy long",
    )
    shifted = (
        c.crossJoin(F.broadcast(offs))
        .select(
            (F.col("gx") + F.col("dx")).alias("cgx"),
            (F.col("gy") + F.col("dy")).alias("cgy"),
            "r", "cnt",
        )
        .groupBy("cgx", "cgy", "r")
        .agg(F.sum("cnt").cast("long").alias("n_in"))
    )
    win = shifted.join(
        c.select(F.col("gx").alias("cgx"), F.col("gy").alias("cgy")),
        ["cgx", "cgy"],
    )
    ax = (
        F.least(F.col("cgx") + F.col("r"), F.lit(n_gx - 1))
        - F.greatest(F.col("cgx") - F.col("r"), F.lit(0)) + 1
    )
    ay = (
        F.least(F.col("cgy") + F.col("r"), F.lit(n_gy - 1))
        - F.greatest(F.col("cgy") - F.col("r"), F.lit(0)) + 1
    )
    a_tot = n_gx * n_gy
    w = win.crossJoin(F.broadcast(tot)).select(
        F.col("cgx").alias("gx"), F.col("cgy").alias("gy"), "r", "n_in",
        (ax * ay).cast("long").alias("a_cells"),
        F.col("nn"),
    )
    nd = F.col("n_in").cast("double")
    td = F.col("nn").cast("double")
    e = td * F.col("a_cells").cast("double") / float(a_tot)
    rest = (F.col("nn") - F.col("n_in")).cast("double")
    llr = F.when(
        nd <= e, F.lit(0.0)
    ).otherwise(
        nd * F.log(nd / e)
        + F.when(rest == 0.0, F.lit(0.0))
        .otherwise(rest * F.log(rest / (td - e)))
    )
    scored = w.select(
        "gx", "gy", "r", "n_in", "a_cells",
        F.floor(llr * 1000000.0 + F.lit(0.5)).cast("long").alias("llr_q"),
    )
    return (
        scored.orderBy(F.desc("llr_q"), F.asc("r"), F.asc("gx"),
                       F.asc("gy"))
        .limit(top_n)
        .select(
            "gx", "gy", "r", "n_in", "a_cells",
            (F.col("llr_q").cast("double") / 1000000.0).alias("llr"),
        )
    )


def bh_fdr_screen(
    cells: DataFrame,
    q_num: int = 1,
    q_den: int = 4,
) -> DataFrame:
    """[gx, gy, cnt, p_q, pos, rejected] — Benjamini–Hochberg
    FDR-controlled hotspot screen over per-cell document counts.  Each
    cell gets a CONSERVATIVE two-sided Chernoff (KL / Bennett) bound
    p-value against the uniform (CSR) null — with μ = T/m the expected
    count and x = cnt/μ, p = min(1, 2·exp(−μ·(x·ln x − x + 1)))
    (exp(−μ) at cnt = 0) — and the BH step-up rejects the largest
    prefix (p ascending) where p_(i) ≤ i·q/m.  A conservative, valid
    p-value keeps the FDR guarantee (rejections can only be fewer);
    the KL form is sharp enough in the Poisson regime to flag the
    urban core, needs no erf, and the one exp/ln chain is quantized to
    1e-9 integers before every comparison (the same cross-engine
    convention the naive-Bayes model uses), so the step-up rule is the
    pure integer test p_q·m·q_den ≤ i·q_num·10⁹.

    The multiple-testing layer between q_getis_ord (per-cell scores,
    no family control) and q_kulldorff (single best window): BH bounds
    the expected fraction of false hotspots at q across ALL rejected
    cells.  Scale shape: the corpus-sized groupBy happens upstream
    (the cells input); every window here is cell-family-sized —
    bounded by the grid area, not the corpus."""
    w_all = Window.partitionBy()
    m = F.count(F.lit(1)).over(w_all)
    t = F.sum("cnt").over(w_all)
    d = cells.select(
        "gx", "gy", F.col("cnt").cast("long").alias("cnt"),
        m.cast("long").alias("_m"), t.cast("long").alias("_t"),
    )
    mu = F.col("_t").cast("double") / F.col("_m").cast("double")
    x = F.col("cnt").cast("double") / mu
    core = F.when(F.col("cnt") == 0, F.exp(F.lit(-1.0) * mu)).otherwise(
        F.exp(F.lit(-1.0) * mu * ((x * F.log(x)) - x + F.lit(1.0)))
    )
    p = F.least(F.lit(1.0), F.lit(2.0) * core)
    d = d.withColumn(
        "p_q", F.floor(p * F.lit(1000000000.0) + F.lit(0.5)).cast("long")
    )
    w_pos = Window.orderBy(F.asc("p_q"), F.asc("gx"), F.asc("gy"))
    d = d.withColumn("pos", F.row_number().over(w_pos).cast("long"))
    flag = (
        F.col("p_q") * F.col("_m") * q_den
        <= F.col("pos") * F.lit(q_num * 1000000000)
    )
    d = d.withColumn(
        "_imax",
        F.max(F.when(flag, F.col("pos")).otherwise(F.lit(0))).over(w_all),
    )
    return d.select(
        "gx", "gy", "cnt", "p_q", "pos",
        (F.col("pos") <= F.col("_imax")).alias("rejected"),
    )
