"""Dissolve: union-overlapping-polygons merge (J5/A7/T5 in SURVEY.md).

The reference's ``unary_union`` + ``sjoin`` + ``dissolve(aggfunc='first')``
(accessibility.py:125-127, availability.py:937-940) becomes:

1. **overlap edges** — cell-cover self-join (equi-join on cell) +
   exact intersects test (bbox arithmetic for axis-aligned layers);
2. **connected components** — Pregel-style DataFrame loop:
   ``label ← min(label, neighbours' labels)`` until fixpoint, persisted
   per iteration (converges in O(diameter) rounds; overlap graphs of
   real greenspace layers have tiny components, 2-4 rounds);
3. **merge** — groupBy(component): ``first``-attribute semantics
   (ordered by member id, matching pandas dissolve's first-row rule)
   plus the exact union geometry stats (area/centroid/bbox) via an
   axis-aligned scanline kernel — integer-coordinate layers get *exact*
   results (all slab areas are exactly representable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint


def rect_union_moments(rects: np.ndarray) -> tuple[float, float, float]:
    """(area, mx, my) — UN-normalized union area and first moments of
    axis-aligned rects (n,4) via x-slab scanline with y-interval
    merging — exact for any overlap pattern, not just pairs.

    For integer-coordinate layers every addend is a multiple of 0.25
    and well below 2^53/4, so all three sums are EXACT doubles in any
    accumulation order — which is what lets the sharded twin
    (:func:`dissolve_rects_sharded`) split a component into x-strips
    and re-sum partials bit-identically."""
    minx, miny, maxx, maxy = rects[:, 0], rects[:, 1], rects[:, 2], rects[:, 3]
    xs = np.unique(np.concatenate([minx, maxx]))
    area = 0.0
    mx = 0.0
    my = 0.0
    for i in range(len(xs) - 1):
        x0, x1 = xs[i], xs[i + 1]
        w = x1 - x0
        active = (minx < x1) & (maxx > x0)
        if not active.any():
            continue
        ys = np.column_stack([miny[active], maxy[active]])
        ys = ys[np.argsort(ys[:, 0])]
        h = 0.0
        ym = 0.0
        cur0, cur1 = ys[0]
        for y0, y1 in ys[1:]:
            if y0 > cur1:
                h += cur1 - cur0
                ym += (cur0 + cur1) / 2.0 * (cur1 - cur0)
                cur0, cur1 = y0, y1
            else:
                cur1 = max(cur1, y1)
        h += cur1 - cur0
        ym += (cur0 + cur1) / 2.0 * (cur1 - cur0)
        area += w * h
        mx += w * (x0 + x1) / 2.0 * h
        my += w * ym
    return area, mx, my


def rect_union_stats(rects: np.ndarray) -> tuple[float, float, float]:
    """(area, cx, cy) of the union of axis-aligned rects — normalized
    form of :func:`rect_union_moments`."""
    area, mx, my = rect_union_moments(rects)
    return area, mx / area, my / area


def overlap_edges(polys: DataFrame, key: str = "gs_id") -> DataFrame:
    """[a, b] — intersecting pairs (a < b), boundary touch included
    (shapely ``intersects`` semantics)."""
    from .spatial_join import bbox_cover_cells

    cover = bbox_cover_cells(polys.select(key, "minx", "miny", "maxx", "maxy"))
    l = cover.select(
        F.col(key).alias("a"), F.col("cell"),
        F.col("minx").alias("aminx"), F.col("miny").alias("aminy"),
        F.col("maxx").alias("amaxx"), F.col("maxy").alias("amaxy"),
    )
    r = F.broadcast(cover.select(
        F.col(key).alias("b"), F.col("cell"),
        F.col("minx").alias("bminx"), F.col("miny").alias("bminy"),
        F.col("maxx").alias("bmaxx"), F.col("maxy").alias("bmaxy"),
    ))
    return (
        l.join(r, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(
            (F.col("aminx") <= F.col("bmaxx")) & (F.col("amaxx") >= F.col("bminx"))
            & (F.col("aminy") <= F.col("bmaxy")) & (F.col("amaxy") >= F.col("bminy"))
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def connected_components(
    polys: DataFrame,
    edges: DataFrame,
    key: str = "gs_id",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """[key, component] — connected components, adaptive strategy.

    Overlap graphs are orders of magnitude smaller than the layers that
    produce them (only *intersecting* polygon pairs).  Below
    ``driver_threshold`` edges, a driver-side union-find is strictly
    better than a distributed loop (each loop iteration costs 3 Spark
    jobs; the lattice of real layers converges in 2-4 rounds but pays
    ~8 jobs of latency).  Above it, the Pregel-style min-label loop
    runs distributed.  Both paths emit identical labels (component =
    min member key).

    The size decision and the data fetch are ONE bounded job
    (VERDICT r03 #5): ``limit(threshold+1).toPandas()`` stops scanning
    once it has threshold+1 rows, and when it returns ≤ threshold rows
    that frame already IS the complete edge set — no separate
    ``count()`` action, no second evaluation of the overlap-edge
    subtree.  A big graph pays one early-stopping scan before the
    distributed loop; a small one pays exactly the collect it needed
    anyway.
    """
    e = edges.limit(driver_threshold + 1).toPandas()
    if len(e) <= driver_threshold:
        keys = [r[key] for r in polys.select(key).collect()]
        parent = {k: k for k in keys}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(e["a"], e["b"]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(k, find(k)) for k in keys]
        spark = polys.sparkSession
        return spark.createDataFrame(rows, schema=f"{key} long, comp long")
    return _cc_distributed(polys, edges, key, max_iter)


def _cc_distributed(
    polys: DataFrame, edges: DataFrame, key: str = "gs_id", max_iter: int = 50
) -> DataFrame:
    """Distributed min-label propagation to fixpoint (big-graph path).

    The rounds run under ``engine/iterate.fixpoint``, which checkpoints
    each new label table with reset statistics: persist() alone leaves
    the logical plan growing one join deeper per round, and Catalyst
    re-analysis of the compounding tree goes super-linear (measured: a
    diameter-9 chain hung for minutes; with lineage truncation it
    converges in seconds).  On a cluster with HDFS, `checkpoint()` on a
    reliable dir is the fault-tolerant variant.
    """
    labels = polys.select(F.col(key).alias("n"), F.col(key).alias("comp")).localCheckpoint()
    sym = edges.select(F.col("a").alias("n"), F.col("b").alias("m")).unionByName(
        edges.select(F.col("b").alias("n"), F.col("a").alias("m"))
    ).localCheckpoint()

    def spread(labels: DataFrame, _: int) -> DataFrame:
        nbr_min = (
            sym.join(labels.withColumnsRenamed({"n": "m", "comp": "mcomp"}), "m")
            .groupBy("n")
            .agg(F.min("mcomp").alias("nbr"))
        )
        return labels.join(nbr_min, "n", "left").select(
            "n", F.least(F.col("comp"), F.coalesce(F.col("nbr"), F.col("comp"))).alias("comp")
        )

    def settled(labels: DataFrame, new_labels: DataFrame) -> bool:
        return (
            new_labels.withColumnsRenamed({"comp": "new"})
            .join(labels, "n")
            .filter(F.col("new") != F.col("comp"))
            .count()
        ) == 0

    labels = fixpoint(labels, spread, max_iter, settled)
    return labels.select(F.col("n").alias(key), "comp")


def dissolve_rects(polys: DataFrame, key: str = "gs_id") -> DataFrame:
    """[component, n_members, area, cx, cy, minx, miny, maxx, maxy, tag]
    — dissolved axis-aligned layer; ``tag`` takes the first member's
    value (pandas ``dissolve(aggfunc='first')``, member order = id)."""
    e = overlap_edges(polys, key)
    comp = connected_components(polys, e, key)
    members = polys.join(comp, key)

    def kernel(kdf: pd.DataFrame) -> pd.DataFrame:
        kdf = kdf.sort_values(key)
        rects = kdf[["minx", "miny", "maxx", "maxy"]].to_numpy(float)
        area, cx, cy = rect_union_stats(rects)
        return pd.DataFrame(
            {
                "component": [int(kdf["comp"].iloc[0])],
                "n_members": [len(kdf)],
                "area": [area], "cx": [cx], "cy": [cy],
                "minx": [float(rects[:, 0].min())], "miny": [float(rects[:, 1].min())],
                "maxx": [float(rects[:, 2].max())], "maxy": [float(rects[:, 3].max())],
                "tag": [kdf["tag"].iloc[0] if "tag" in kdf else None],
            }
        )

    schema = (
        "component long, n_members long, area double, cx double, cy double, "
        "minx double, miny double, maxx double, maxy double, tag string"
    )
    return members.groupBy("comp").applyInPandas(kernel, schema=schema)


def dissolve_rects_sharded(
    polys: DataFrame, key: str = "gs_id", n_strips: int = 8
) -> DataFrame:
    """Giant-component-parallel twin of :func:`dissolve_rects` — same
    output, different physical plan: instead of one task per component
    (fine for real green layers, a straggler when one component holds
    millions of members), each component's scanline integration is
    split into ``n_strips`` x-strips that integrate independently and
    re-sum.

    Correctness of the split: union area/moments are additive over
    disjoint x-strips, and the union restricted to a strip equals the
    union of the members CLIPPED to the strip.  Strip boundaries are
    INTEGER multiples of an integer strip width, so on integer-
    coordinate layers the clipped coordinates stay integers, every
    partial is an exact double (see :func:`rect_union_moments`) and the
    cross-strip re-sum is bit-identical to the single-task result —
    the gate runs both against the same closed-form oracle.

    Plan: one window over ``comp`` attaches the component x-extent, the
    strip explode is ``sequence`` (±1 pad; empty clips drop, so a
    floor/boundary ULP disagreement can never lose area), partials are
    one Arrow kernel per (comp, strip), and member attributes
    (n_members / bbox / first-tag) come from a plain columnar agg —
    max task size shrinks from O(component) to O(component/n_strips).
    """
    from pyspark.sql import Window

    if "tag" not in polys.columns:
        polys = polys.withColumn("tag", F.lit(None).cast("string"))
    e = overlap_edges(polys, key)
    comp = connected_components(polys, e, key)
    members = polys.join(comp, key)

    w = Window.partitionBy("comp")
    c0 = F.floor(F.min("minx").over(w)).cast("long")
    cmax = F.ceil(F.max("maxx").over(w)).cast("long")
    sw = F.greatest(
        F.ceil((cmax - c0).cast("double") / F.lit(float(n_strips))).cast("long"),
        F.lit(1),
    )
    m = members.withColumn("_c0", c0).withColumn("_sw", sw)
    i0 = F.floor((F.col("minx") - F.col("_c0")) / F.col("_sw")).cast("long") - 1
    i1 = F.floor((F.col("maxx") - F.col("_c0")) / F.col("_sw")).cast("long") + 1
    lo = (F.col("_c0") + F.col("_i") * F.col("_sw")).cast("double")
    hi = (F.col("_c0") + (F.col("_i") + 1) * F.col("_sw")).cast("double")
    clipped = (
        m.withColumn("_i", F.explode(F.sequence(i0, i1)))
        .select(
            "comp",
            F.col("_i").alias("strip"),
            F.greatest(F.col("minx"), lo).alias("minx"),
            "miny",
            F.least(F.col("maxx"), hi).alias("maxx"),
            "maxy",
        )
        .filter(F.col("minx") < F.col("maxx"))
    )

    def kernel(kdf: pd.DataFrame) -> pd.DataFrame:
        rects = kdf[["minx", "miny", "maxx", "maxy"]].to_numpy(float)
        area, mx, my = rect_union_moments(rects)
        return pd.DataFrame(
            {
                "comp": [int(kdf["comp"].iloc[0])],
                "strip": [int(kdf["strip"].iloc[0])],
                "area": [area], "mx": [mx], "my": [my],
            }
        )

    partials = clipped.groupBy("comp", "strip").applyInPandas(
        kernel, schema="comp long, strip long, area double, mx double, my double"
    )
    stats = partials.groupBy("comp").agg(
        F.sum("area").alias("area"), F.sum("mx").alias("mx"), F.sum("my").alias("my")
    )
    attrs = members.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("minx").alias("minx"), F.min("miny").alias("miny"),
        F.max("maxx").alias("maxx"), F.max("maxy").alias("maxy"),
        F.min_by("tag", F.col(key)).alias("tag"),
    )
    return attrs.join(stats, "comp").select(
        F.col("comp").alias("component"),
        "n_members",
        "area",
        (F.col("mx") / F.col("area")).alias("cx"),
        (F.col("my") / F.col("area")).alias("cy"),
        "minx", "miny", "maxx", "maxy", "tag",
    )


# ---------------------------------------------------------------------------
# general-polygon dissolve (r01 verdict item 2): arbitrary rotated /
# concave simple polygons, not just axis-aligned rects
# ---------------------------------------------------------------------------


def overlap_edges_polygons(polys: DataFrame, key: str = "gs_id") -> DataFrame:
    """[a, b] — intersecting polygon pairs (a < b): bbox candidate pairs
    from the shared rect machinery (:func:`overlap_edges` — cell-cover
    equi-join + bbox filter, geometry-free so the broadcast carries only
    bboxes, never rings-per-cell), then rings joined back by key for the
    exact ``polygons_intersect`` refinement (Arrow pandas UDF;
    shapely-``intersects`` semantics incl. boundary touch).
    ``polys`` needs bbox columns + ``rings``."""
    from pyspark.sql import types as T

    from ..geo.kernels import polygons_intersect

    rings = polys.select(key, "rings")
    cand = (
        overlap_edges(polys.drop("rings"), key)
        .join(F.broadcast(rings.withColumnsRenamed({key: "a", "rings": "rings_a"})), "a")
        .join(F.broadcast(rings.withColumnsRenamed({key: "b", "rings": "rings_b"})), "b")
    )

    @F.pandas_udf(T.BooleanType())
    def inter_udf(ra: pd.Series, rb: pd.Series) -> pd.Series:
        out = np.zeros(len(ra), dtype=bool)
        for i in range(len(ra)):
            ar = [np.asarray(rg, dtype=np.float64).reshape(-1, 2) for rg in ra.iloc[i]]
            br = [np.asarray(rg, dtype=np.float64).reshape(-1, 2) for rg in rb.iloc[i]]
            out[i] = polygons_intersect(ar, br)
        return pd.Series(out)

    return cand.filter(inter_udf(F.col("rings_a"), F.col("rings_b"))).select("a", "b")


def dissolve_polygons(polys: DataFrame, key: str = "gs_id", round_dp: int = 6) -> DataFrame:
    """[component, n_members, area, cx, cy, minx, miny, maxx, maxy, tag]
    — dissolve for ARBITRARY simple polygons (rotated, concave, holes):
    exact union area/centroid via the slab-decomposition kernel
    (geo/kernels.polygon_union_stats), same CC machinery and
    first-attribute semantics as :func:`dissolve_rects` (pandas
    ``dissolve(aggfunc='first')``, reference availability.py:937-940).

    ``polys``: [key, rings array<array<double>>, minx..maxy, tag].
    area/cx/cy round to ``round_dp`` (FP paths differ between union
    algorithms; 6 dp is far below any geometric meaning at metre scale).
    """
    from ..geo.kernels import polygon_union_stats

    e = overlap_edges_polygons(polys, key)
    comp = connected_components(polys, e, key)
    members = polys.join(comp, key)

    def kernel(kdf: pd.DataFrame) -> pd.DataFrame:
        kdf = kdf.sort_values(key)
        plist = [
            [np.asarray(rg, dtype=np.float64).reshape(-1, 2) for rg in rings]
            for rings in kdf["rings"]
        ]
        area, cx, cy = polygon_union_stats(plist)
        return pd.DataFrame(
            {
                "component": [int(kdf["comp"].iloc[0])],
                "n_members": [len(kdf)],
                "area": [round(area, round_dp)],
                "cx": [round(cx, round_dp)], "cy": [round(cy, round_dp)],
                "minx": [float(kdf["minx"].min())], "miny": [float(kdf["miny"].min())],
                "maxx": [float(kdf["maxx"].max())], "maxy": [float(kdf["maxy"].max())],
                "tag": [kdf["tag"].iloc[0] if "tag" in kdf else None],
            }
        )

    schema = (
        "component long, n_members long, area double, cx double, cy double, "
        "minx double, miny double, maxx double, maxy double, tag string"
    )
    return members.groupBy("comp").applyInPandas(kernel, schema=schema)
