"""Reference-parity API surface: signatures, validation messages,
output columns, and AoI-path consistency."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from greenex_py_spark import api
from greenex_py_spark.data import city_fixture as fx
from greenex_py_spark.data import driver_city as city


@pytest.fixture(scope="module")
def pois(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {"url": ["a", "b", "c"],
             "x": [city.X0 + 3000.0, city.X0 + 5200.0, city.X0 + 7400.0],
             "y": [city.Y0 + 3000.0, city.Y0 + 5200.0, city.Y0 + 2600.0]}
        )
    )


def test_validation_messages(spark, pois):
    with pytest.raises(ValueError, match="buffer_type argument is set to either"):
        api.get_mean_NDVI(pois, None, buffer_type="banana")
    with pytest.raises(ValueError, match="buffer_dist argument is set to a positive integer"):
        api.get_mean_NDVI(pois, None, buffer_type="euclidean", buffer_dist=-5)
    with pytest.raises(TypeError, match="travel_speed and trip_time"):
        api.get_mean_NDVI(pois, None, buffer_type="network")
    with pytest.raises(ValueError, match="shoud not be set"):  # sic — reference typo
        api.get_mean_NDVI(pois, None, buffer_type="network", buffer_dist=500,
                          trip_time=15, travel_speed=5)
    with pytest.raises(ValueError, match="target distance is set as a positive integer"):
        api.get_shortest_distance_greenspace(pois, None, target_dist=0)
    with pytest.raises(ValueError, match="distance_type argument"):
        api.get_shortest_distance_greenspace(pois, None, distance_type="swim")
    with pytest.raises(ValueError, match="destination argument"):
        api.get_shortest_distance_greenspace(pois, None, destination="portal")
    # P1 homogeneity: a frame with both xy and rings is mixed
    mixed = pois.withColumn("rings", F.array(F.array(F.lit(0.0))))
    with pytest.raises(TypeError, match="all geometries are of 'Point' type"):
        api.get_mean_NDVI(mixed, None, buffer_type="euclidean", buffer_dist=100)


def test_mean_ndvi_euclidean_matches_fast_path(spark, pois):
    from greenex_py_spark.operators.zonal import zonal_mean_std

    tiles = city.tiles_df(spark, "ndvi")
    got = api.get_mean_NDVI(pois, tiles, buffer_type="euclidean", buffer_dist=300)
    gpd_ = got.select("url", "mean_NDVI", "std_NDVI").toPandas().sort_values("url")
    poi_ids = api._ensure_id(pois)
    fast = (
        zonal_mean_std(poi_ids, tiles, 300.0, id_col="id")
        .join(poi_ids.select("id", "url"), "id")
        .toPandas().sort_values("url")
    )
    pd.testing.assert_frame_equal(
        gpd_.reset_index(drop=True)[["url", "mean_NDVI", "std_NDVI"]],
        fast.reset_index(drop=True)[["url", "mean_NDVI", "std_NDVI"]],
    )


def test_mean_ndvi_network_and_trip_time(spark, pois):
    tiles = city.tiles_df(spark, "ndvi")
    nodes, edges = fx.network_dfs(spark)
    # trip_time 2 min at 12 km/h = 400 m network buffer
    out = api.get_mean_NDVI(
        pois, tiles, buffer_type="network", trip_time=2, travel_speed=12,
        network_nodes=nodes, network_edges=edges,
    ).toPandas()
    assert out.mean_NDVI.notna().all()
    assert (out.std_NDVI >= 0).all()
    # isochrone AoI ⊂ circle AoI of same radius → different stats
    circ = api.get_mean_NDVI(pois, tiles, buffer_type="euclidean", buffer_dist=400).toPandas()
    assert not circ.mean_NDVI.equals(out.mean_NDVI)


def test_landcover_pct_polygon_poi(spark):
    tiles = city.tiles_df(spark, "landcover")
    polys = fx.greenspace_rings_df(spark).filter(F.col("gs_id").isin(80, 81)).select(
        F.col("gs_id").alias("pid"), "rings", "minx", "miny", "maxx", "maxy"
    )
    out = api.get_landcover_percentages(polys, tiles).toPandas()
    cls = [c for c in out.columns if c.startswith("class_")]
    assert len(cls) == 5
    sums = out[cls].map(lambda s: float(s.rstrip("%"))).sum(axis=1)
    assert ((sums - 100.0).abs() < 0.01).all()


def test_accessibility_output_contract(spark, pois):
    greens = city.greenspace_df(spark)
    out = api.get_shortest_distance_greenspace(
        pois, greens, target_dist=300, min_greenspace_area=400
    )
    assert "greenspace_within_300m" in out.columns
    assert "distance_to_greenspace" in out.columns
    pdf = out.toPandas()
    assert (pdf.distance_to_greenspace <= 300.0).all()


def test_poi_columns_named_like_join_internals(spark, pois):
    """PoI columns called ``cell``, ``cx`` or ``minx`` (names the cell
    join uses on either side) change neither the access nor the
    streetview output: the probe is always projected to (id, x, y) and
    its cell derived from x, y."""
    greens = city.greenspace_df(spark)
    g = greens.filter(F.col("area") >= 400).orderBy("gs_id").first()
    # 50 m east and north of a park centroid: 71 m after rounding
    near = spark.createDataFrame(
        pd.DataFrame({"url": ["p"], "x": [g.cx + 50.0], "y": [g.cy + 50.0]})
    )
    plain = pois.unionByName(near)
    odd = (
        plain.withColumn("cell", F.lit(0).cast("long"))
        .withColumn("cx", F.lit(-1.0))
        .withColumn("minx", F.lit(-1.0))
    )
    images = spark.createDataFrame(
        pd.DataFrame({"x": [g.cx, city.X0 + 3000.0], "y": [g.cy, city.Y0 + 3100.0],
                      "GVI": [0.25, 0.5]})
    )

    def outputs(p):
        acc = api.get_shortest_distance_greenspace(
            p, greens, target_dist=300, min_greenspace_area=400
        ).select("url", "greenspace_within_300m", "distance_to_greenspace")
        sv = api.get_streetview_GVI(p, images, buffer_dist=150).select(
            "url", "GVI", "nr_of_points"
        )
        return (acc.toPandas().sort_values("url").reset_index(drop=True),
                sv.toPandas().sort_values("url").reset_index(drop=True))

    acc_plain, sv_plain = outputs(plain)
    acc_odd, sv_odd = outputs(odd)
    pd.testing.assert_frame_equal(acc_plain, acc_odd)
    pd.testing.assert_frame_equal(sv_plain, sv_odd)
    row = acc_odd[acc_odd.url == "p"].iloc[0]
    assert bool(row.greenspace_within_300m) and row.distance_to_greenspace <= 71.0
    assert sv_odd[sv_odd.url == "p"].iloc[0].nr_of_points == 1


def _nested_loop_joins(df) -> int:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b(BroadcastNestedLoopJoin|CartesianProduct)\b", plan))


def test_distance_bounded_pairings_avoid_nested_loop_joins(spark, pois):
    """Every PoI pairing of the access and streetview calls is the cell
    join; the network variants keep exactly one nested-loop join, the
    total-fallback tier of nearest_node over points no ring reached."""
    greens = city.greenspace_df(spark)
    nodes, edges = fx.network_dfs(spark)
    images = spark.createDataFrame(
        pd.DataFrame({"x": [city.X0 + 3000.0], "y": [city.Y0 + 3000.0], "GVI": [0.4]})
    )
    assert _nested_loop_joins(api.get_streetview_GVI(pois, images, buffer_dist=150)) == 0
    assert _nested_loop_joins(api.get_shortest_distance_greenspace(
        pois, greens, target_dist=300, min_greenspace_area=400)) == 0
    for distance_type, destination in (
        ("network", "centroids"), ("network", "entrance"), ("euclidean", "entrance"),
    ):
        df = api.get_shortest_distance_greenspace(
            pois, greens, target_dist=300, distance_type=distance_type,
            destination=destination, min_greenspace_area=400,
            network_nodes=nodes, network_edges=edges,
        )
        assert _nested_loop_joins(df) == 1, (distance_type, destination)


def test_canopy_and_greenspace_pct(spark, pois):
    rings = fx.greenspace_rings_df(spark)
    out = api.get_canopy_percentage(pois, rings, buffer_type="euclidean", buffer_dist=250)
    pdf = out.toPandas()
    assert pdf.canopy_cover.str.endswith("%").all()
    nodes, edges = fx.network_dfs(spark)
    out2 = api.get_greenspace_percentage(
        pois, rings, buffer_type="network", buffer_dist=350,
        network_nodes=nodes, network_edges=edges,
    ).toPandas()
    assert out2.greenspace_cover.str.endswith("%").all()


def test_viewshed_and_streetview_api(spark, pois):
    nodes, edges = fx.network_dfs(spark)
    tiles = (
        fx.surface_tiles_df(spark, "dsm")
        .unionByName(fx.surface_tiles_df(spark, "dtm"))
        .unionByName(fx.surface_tiles_df(spark, "green"))
    )
    agg, pp = api.get_viewshed_GVI(pois, tiles, edges, buffer_dist=100,
                                   viewing_dist=250, sample_dist=50)
    a = agg.toPandas()
    assert {"GVI", "nr_of_points"} <= set(a.columns) and a.GVI.notna().all()
    # PoI "a" sits on a 100 m cell corner; the third image lies exactly
    # buffer_dist west of it, two cell borders away, where the cover's
    # pad ends exactly at the PoI's home cell
    gvi_pts = spark.createDataFrame(
        pd.DataFrame({"x": [city.X0 + 3000.0, city.X0 + 3050.0, city.X0 + 2850.0],
                      "y": [city.Y0 + 3000.0, city.Y0 + 3010.0, city.Y0 + 3000.0],
                      "GVI": [0.4, None, 0.8]})
    )
    # the reference's per-image tables carry their own id column
    with_id = gvi_pts.withColumn("id", F.lit(7).cast("long")).select("id", "x", "y", "GVI")
    for images in (gvi_pts, with_id):
        sv = api.get_streetview_GVI(pois, images, buffer_dist=150).toPandas()
        row = sv[sv.url == "a"].iloc[0]
        # null GVI excluded from both; the image at d == buffer_dist counts
        assert row.GVI == 0.6 and row.nr_of_points == 2


def test_street_edges_as_pois(spark):
    """Street-query mode: every network edge gets its own 10 m-buffer
    mean NDVI (the 2242-street-AoIs example, README.md:123-137)."""
    from greenex_py_spark.operators.zonal import aoi_street_edges, zonal_stats_aoi

    _, edges = fx.network_dfs(spark)
    # bbox-prune to a 1 km corner so the test stays fast
    sub = edges.filter(
        (F.element_at("geom_xs", 1) < city.X0 + 1000)
        & (F.element_at("geom_ys", 1) < city.Y0 + 1000)
        & (F.element_at("geom_xs", -1) <= city.X0 + 1000)
        & (F.element_at("geom_ys", -1) <= city.Y0 + 1000)
    )
    aoi = aoi_street_edges(sub, buffer_dist=10.0)
    n_aoi = aoi.count()
    assert n_aoi > 20
    out = zonal_stats_aoi(aoi, city.tiles_df(spark, "ndvi"), stat="mean_std").toPandas()
    assert len(out) == n_aoi
    assert out.mean_NDVI.notna().all() and (out.std_NDVI >= 0).all()


def test_polygon_type_house_equals_centroid_points(spark):
    """polygon_type='house' (availability.py:88-94): polygon PoIs become
    their centroids and the result equals calling the API with the
    centroid points directly; invalid values raise the reference's
    message verbatim."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from greenex_py_spark import api
    from greenex_py_spark.data import driver_city as city
    from greenex_py_spark.geo import kernels

    rows = []
    cents = []
    for k in range(4):
        x0 = city.X0 + 2000.0 + k * 900.0
        y0 = city.Y0 + 2000.0
        ring = kernels.box_ring(x0, y0, x0 + 120.0, y0 + 80.0)
        rows.append(
            dict(id=k + 1, rings=[ring.ravel().tolist()],
                 minx=x0, miny=y0, maxx=x0 + 120.0, maxy=y0 + 80.0)
        )
        cents.append((k + 1, x0 + 60.0, y0 + 40.0))
    polys = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="id long, rings array<array<double>>, minx double, miny double, "
               "maxx double, maxy double",
    )
    pts = spark.createDataFrame(pd.DataFrame(cents, columns=["id", "x", "y"]))
    tiles = city.tiles_df(spark, "ndvi")
    a = (
        api.get_mean_NDVI(polys, tiles, polygon_type="house",
                          buffer_type="euclidean", buffer_dist=200)
        .select("id", "mean_NDVI", "std_NDVI").toPandas().sort_values("id").reset_index(drop=True)
    )
    b = (
        api.get_mean_NDVI(pts, tiles, buffer_type="euclidean", buffer_dist=200)
        .select("id", "mean_NDVI", "std_NDVI").toPandas().sort_values("id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert a.mean_NDVI.notna().all()
    with _pytest.raises(ValueError, match="polygon_type argument"):
        api.get_mean_NDVI(polys, tiles, polygon_type="block",
                          buffer_type="euclidean", buffer_dist=200)


def test_warm_api_calls_reuse_compiled_code(spark, pois):
    """A second run of each api call compiles no new code: every class
    of one pass over the api still sits in the codegen cache that
    ``get_spark`` sizes, and the per-dataset size probes (a LIMIT,
    whose counter is named from a JVM-global id, so its code is new on
    every run) ran once, on the first pass (``engine.memo``).  At
    Spark's default 100 entries the pass (about 260 classes here; in
    the benchmark's python_kernels workload ``gs_pct_network`` alone
    compiles 113) evicts its own classes, and the warm runs of every
    call but the euclidean greenspace % (whose classes the canopy call
    just compiled) recompile 9 to 69 classes.  Adaptive execution
    numbers codegen stages in the order concurrent stages finish, so
    ``get_spark`` keeps the stage id out of class names: with it, a
    cached class now and then compiled again under a new name."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # checkpointed like tables read from storage: over an in-memory local
    # relation the optimizer folds a LIMIT away and a probe compiles nothing
    ndvi, landcover, rings, greens, nodes, edges, surface, images = (
        df.localCheckpoint() for df in (
            city.tiles_df(spark, "ndvi"),
            city.tiles_df(spark, "landcover"),
            fx.greenspace_rings_df(spark),
            city.greenspace_df(spark),
            *fx.network_dfs(spark),
            fx.surface_tiles_df(spark, "dsm")
            .unionByName(fx.surface_tiles_df(spark, "dtm"))
            .unionByName(fx.surface_tiles_df(spark, "green")),
            spark.createDataFrame(
                pd.DataFrame({"x": [city.X0 + 3000.0, city.X0 + 5100.0],
                              "y": [city.Y0 + 3050.0, city.Y0 + 5200.0], "GVI": [0.4, 0.7]})
            ),
        )
    )
    net = dict(network_nodes=nodes, network_edges=edges)
    calls = {
        "mean_ndvi": lambda: api.get_mean_NDVI(pois, ndvi, buffer_type="euclidean",
                                               buffer_dist=300),
        "landcover": lambda: api.get_landcover_percentages(pois, landcover,
                                                           buffer_type="euclidean",
                                                           buffer_dist=300),
        "canopy": lambda: api.get_canopy_percentage(pois, rings, buffer_type="euclidean",
                                                    buffer_dist=250),
        "gs_pct": lambda: api.get_greenspace_percentage(pois, rings, buffer_type="euclidean",
                                                        buffer_dist=250),
        "access": lambda: api.get_shortest_distance_greenspace(pois, greens, target_dist=300,
                                                               min_greenspace_area=400),
        "viewshed": lambda: api.get_viewshed_GVI(pois, surface, edges, buffer_dist=100,
                                                 viewing_dist=250, sample_dist=50)[0],
        "streetview": lambda: api.get_streetview_GVI(pois, images, buffer_dist=150),
        "mean_ndvi_network": lambda: api.get_mean_NDVI(pois, ndvi, buffer_type="network",
                                                       trip_time=2, travel_speed=12, **net),
        "gs_pct_network": lambda: api.get_greenspace_percentage(
            pois, rings, buffer_type="network", buffer_dist=350, **net),
        "access_network": lambda: api.get_shortest_distance_greenspace(
            pois, greens, target_dist=300, distance_type="network",
            min_greenspace_area=400, **net),
    }

    def run(call) -> int:
        """Classes compiled by one call run to a noop write."""
        c0 = compiles.getCount()
        call().write.format("noop").mode("overwrite").save()
        return compiles.getCount() - c0

    for call in calls.values():
        run(call)
    warm = {name: run(call) for name, call in calls.items()}
    assert warm == {name: 0 for name in calls}
