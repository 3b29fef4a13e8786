"""User-facing API — reference-parity function surface.

A user of GreenEx_Py can switch to this module function-for-function:
same names, same parameter semantics and validation messages
(availability.py:96-126, accessibility.py:66-84), same output columns
(``mean_NDVI``/``std_NDVI``, per-class ``%``-strings, ``canopy_cover``,
``greenspace_cover``, ``greenspace_within_{d}m`` +
``distance_to_greenspace``, ``GVI``/``nr_of_points``) — over Spark
DataFrames instead of GeoDataFrames (data-model mapping in SURVEY.md
§1.2: points carry (x, y), polygons carry ``rings``+bbox, rasters are
tile tables, networks are nodes/edges tables).

Buffer parameters follow the reference exactly: ``buffer_type``
'euclidean' (circle of ``buffer_dist``) or 'network' (isochrone of
``buffer_dist`` network meters, or ``trip_time``·``travel_speed``
converted at ``meters_per_minute = travel_speed*1000/60``,
availability.py:117-119); the mutual-exclusion rules raise the
reference's error messages verbatim.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .data import driver_city as city

LANDCOVER_CLASSES = list(city.LC_CLASSES)


# ---------------------------------------------------------------------------
# validation (P8) — reference messages verbatim
# ---------------------------------------------------------------------------


def _resolve_buffer(geom_type: str, buffer_type, buffer_dist, trip_time, travel_speed):
    if buffer_type not in ["euclidean", "network"] and (
        geom_type == "Point" or buffer_type is not None
    ):
        raise ValueError(
            "Please make sure that the buffer_type argument is set to either "
            "'euclidean' or 'network' and re-run the function"
        )
    if buffer_type == "euclidean":
        if not isinstance(buffer_dist, int) or (not buffer_dist > 0):
            raise ValueError(
                "Please make sure that the buffer_dist argument is set to a positive integer"
            )
    if buffer_type == "network":
        if not isinstance(buffer_dist, int) or (not buffer_dist > 0):
            if (
                not isinstance(travel_speed, (float, int))
                or (not travel_speed > 0)
                or (not isinstance(trip_time, int) or (not trip_time > 0))
            ):
                raise TypeError(
                    "Please make sure that either the buffer_dist argument is set to "
                    "a positive integer or both the travel_speed and trip_time are "
                    "set to positive numbers"
                )
            meters_per_minute = travel_speed * 1000 / 60
            buffer_dist = trip_time * meters_per_minute
        else:
            if (
                isinstance(travel_speed, (float, int)) and travel_speed > 0
                and isinstance(trip_time, int) and trip_time > 0
            ):
                raise ValueError(
                    "Please make sure that one of the following requirements is met:"
                    "\n1. If buffer_dist is set, travel_speed and trip_time should not be set"
                    "\n2. If travel_speed and trip_time are set, buffer_dist shoud not be set"
                )
    return buffer_dist


def _geom_type(poi: DataFrame) -> str:
    """P1 homogeneity: points carry (x, y); polygons carry rings."""
    has_xy = "x" in poi.columns and "y" in poi.columns
    has_rings = "rings" in poi.columns
    if has_rings and not has_xy:
        return "Polygon"
    if has_xy and not has_rings:
        return "Point"
    raise TypeError(
        "Please make sure all geometries are of 'Point' type, all geometries are "
        "of 'Polygon' type or all geometries are of 'MultiPolygon' type and "
        "re-run the function"
    )


def _ensure_id(poi: DataFrame, order_col: str | None = None) -> DataFrame:
    """P4: add id = 1..n (deterministic order) or fill nulls positionally
    (accessibility.py:59-63)."""
    from pyspark.sql import Window

    if order_col is None:
        order_col = "url" if "url" in poi.columns else poi.columns[0]
    w = Window.orderBy(order_col)
    rn = F.row_number().over(w)
    if "id" in poi.columns:
        return poi.withColumn("id", F.coalesce(F.col("id"), rn).cast("long"))
    return poi.withColumn("id", rn.cast("long"))


def _apply_polygon_type(poi: DataFrame, geom_type: str, polygon_type: str):
    """Reference polygon_type semantics (availability.py:88-94):
    'house' converts polygon PoIs to their centroids (P3) and the
    pipeline proceeds as points; 'neighbourhood' keeps the polygons as
    AoIs; anything else raises the reference's message verbatim."""
    if geom_type != "Polygon":
        return poi, geom_type
    if polygon_type not in ["neighbourhood", "house"]:
        raise ValueError(
            "Please make sure that the polygon_type argument is set to either "
            "'neighbourhood' or 'house'"
        )
    if polygon_type == "house":
        from pyspark.sql import types as T

        from .geo.kernels import polygon_centroid

        @F.pandas_udf(
            T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
        )
        def centroid_udf(rings: pd.Series) -> pd.DataFrame:
            xs = np.empty(len(rings))
            ys = np.empty(len(rings))
            for i, rg in enumerate(rings):
                rl = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rg]
                xs[i], ys[i] = polygon_centroid(rl)
            return pd.DataFrame({"x": xs, "y": ys})

        pts = (
            poi.withColumn("_c", centroid_udf(F.col("rings")))
            .withColumn("x", F.col("_c.x"))
            .withColumn("y", F.col("_c.y"))
            .drop("_c", "rings")
        )
        return pts, "Point"
    return poi, geom_type


def _prepare_availability(
    point_of_interest: DataFrame, polygon_type: str,
    buffer_type, buffer_dist, trip_time, travel_speed,
) -> tuple[DataFrame, str, float]:
    """The availability functions' shared preamble: geometry check,
    polygon_type conversion, buffer validation, id assignment.  Returns
    (poi with id, geometry type, resolved buffer distance)."""
    geom_type = _geom_type(point_of_interest)
    point_of_interest, geom_type = _apply_polygon_type(
        point_of_interest, geom_type, polygon_type
    )
    buffer_dist = _resolve_buffer(geom_type, buffer_type, buffer_dist, trip_time, travel_speed)
    return _ensure_id(point_of_interest), geom_type, buffer_dist


def _aoi_for(poi, geom_type, buffer_type, buffer_dist, nodes, edges):
    from .operators.zonal import aoi_circle, aoi_isochrone, aoi_polygon

    if geom_type == "Polygon" and buffer_type is None:
        return aoi_polygon(poi)
    if buffer_type == "network":
        if nodes is None or edges is None:
            raise ValueError("network buffer requires nodes and edges tables")
        return aoi_isochrone(poi, nodes, edges, float(buffer_dist))
    return aoi_circle(poi, float(buffer_dist))


# ---------------------------------------------------------------------------
# availability family
# ---------------------------------------------------------------------------


def get_mean_NDVI(
    point_of_interest: DataFrame,
    ndvi_tiles: DataFrame,
    buffer_type: str | None = None,
    buffer_dist: int | None = None,
    trip_time: int | None = None,
    travel_speed: float | None = None,
    network_nodes: DataFrame | None = None,
    network_edges: DataFrame | None = None,
    polygon_type: str = "neighbourhood",
) -> DataFrame:
    """→ poi + [mean_NDVI, std_NDVI] (availability.py:41-342)."""
    from .operators.zonal import zonal_stats_aoi

    poi, geom_type, buffer_dist = _prepare_availability(
        point_of_interest, polygon_type, buffer_type, buffer_dist, trip_time, travel_speed
    )
    aoi = _aoi_for(poi, geom_type, buffer_type, buffer_dist, network_nodes, network_edges)
    stats = zonal_stats_aoi(aoi, ndvi_tiles, stat="mean_std", clip_min0=True, out_prefix="NDVI")
    return poi.join(stats, "id", "left")


def get_landcover_percentages(
    point_of_interest: DataFrame,
    landcover_tiles: DataFrame,
    buffer_type: str | None = None,
    buffer_dist: int | None = None,
    trip_time: int | None = None,
    travel_speed: float | None = None,
    class_values: list[int] | None = None,
    network_nodes: DataFrame | None = None,
    network_edges: DataFrame | None = None,
    polygon_type: str = "neighbourhood",
) -> DataFrame:
    """→ poi + one ``%``-string column per landcover class
    (availability.py:344-597)."""
    from .operators.zonal import zonal_stats_aoi

    poi, geom_type, buffer_dist = _prepare_availability(
        point_of_interest, polygon_type, buffer_type, buffer_dist, trip_time, travel_speed
    )
    aoi = _aoi_for(poi, geom_type, buffer_type, buffer_dist, network_nodes, network_edges)
    stats = zonal_stats_aoi(
        aoi, landcover_tiles, stat="classes",
        class_values=class_values or LANDCOVER_CLASSES,
    )
    return poi.join(stats, "id", "left")


def get_canopy_percentage(
    point_of_interest: DataFrame,
    canopy_layer: DataFrame,
    buffer_type: str | None = None,
    buffer_dist: int | None = None,
    trip_time: int | None = None,
    travel_speed: float | None = None,
    polygon_type: str = "neighbourhood",
) -> DataFrame:
    """→ poi + [canopy_cover] — vector clip (32-gon circle buffer ∩
    canopy polygons, availability.py:600-806)."""
    from .operators.zonal import cover_percentage_circle32

    poi, _, buffer_dist = _prepare_availability(
        point_of_interest, polygon_type, buffer_type, buffer_dist, trip_time, travel_speed
    )
    out = cover_percentage_circle32(
        poi, canopy_layer, float(buffer_dist), id_col="id", out_col="canopy_cover"
    )
    return poi.join(out, "id", "left")


def get_greenspace_percentage(
    point_of_interest: DataFrame,
    greenspace_layer: DataFrame,
    buffer_type: str | None = None,
    buffer_dist: int | None = None,
    trip_time: int | None = None,
    travel_speed: float | None = None,
    network_nodes: DataFrame | None = None,
    network_edges: DataFrame | None = None,
    polygon_type: str = "neighbourhood",
) -> DataFrame:
    """→ poi + [greenspace_cover] (availability.py:807-1036): euclidean
    buffers take the vector 32-gon clip path; network buffers the
    isochrone raster-mask path (documented raster-level equivalence of
    make_iso_poly)."""
    poi, _, buffer_dist = _prepare_availability(
        point_of_interest, polygon_type, buffer_type, buffer_dist, trip_time, travel_speed
    )
    if buffer_type == "network":
        from .operators.network import greenspace_pct_isochrone

        out = greenspace_pct_isochrone(
            poi, network_nodes, network_edges, greenspace_layer,
            radius=float(buffer_dist), id_col="id", out_col="greenspace_cover",
        )
    else:
        from .operators.zonal import cover_percentage_circle32

        out = cover_percentage_circle32(
            poi, greenspace_layer, float(buffer_dist), id_col="id",
            out_col="greenspace_cover",
        )
    return poi.join(out, "id", "left")


# ---------------------------------------------------------------------------
# accessibility
# ---------------------------------------------------------------------------


def get_shortest_distance_greenspace(
    point_of_interest: DataFrame,
    greenspace_layer: DataFrame,
    target_dist: int = 300,
    distance_type: str = "euclidean",
    destination: str = "centroids",
    min_greenspace_area: int | None = None,
    network_nodes: DataFrame | None = None,
    network_edges: DataFrame | None = None,
) -> DataFrame:
    """→ poi + [greenspace_within_{target_dist}m, distance_to_greenspace]
    (accessibility.py:24-223, README.md:317-321 output contract)."""
    if not isinstance(target_dist, int) or (not target_dist > 0):
        raise ValueError(
            "Please make sure that the target distance is set as a positive integer"
        )
    if distance_type not in ["euclidean", "network"]:
        raise ValueError(
            "Please make sure that the distance_type argument is set to either "
            "'euclidean' or 'network'"
        )
    if destination not in ["centroids", "entrance"]:
        raise ValueError(
            "Please make sure that the destination argument is set to either "
            "'centroids' or 'entrance'"
        )
    if min_greenspace_area is not None and (
        not isinstance(min_greenspace_area, int) or (not min_greenspace_area > 0)
    ):
        raise ValueError(
            "Please make sure that the min_greenspace_area is set as a positive integer"
        )
    _geom_type(point_of_interest)
    poi = _ensure_id(point_of_interest)
    min_area = float(min_greenspace_area) if min_greenspace_area else 0.0

    if distance_type == "network":
        from .operators.network import shortest_distance_greenspace_network

        out = shortest_distance_greenspace_network(
            poi, greenspace_layer, network_nodes, network_edges,
            target_dist=float(target_dist), min_area=min_area,
            destination=destination, id_col="id",
        )
    elif destination == "entrance":
        from .operators.network import shortest_distance_greenspace_entrance_euclid

        out = shortest_distance_greenspace_entrance_euclid(
            poi, greenspace_layer, network_nodes, network_edges,
            target_dist=float(target_dist), min_area=min_area, id_col="id",
        )
    else:
        from .operators.accessibility import shortest_distance_greenspace

        out = shortest_distance_greenspace(
            poi, greenspace_layer, target_dist=float(target_dist),
            min_area=min_area, id_col="id",
        )
    out = out.withColumnRenamed("greenspace_within", f"greenspace_within_{target_dist}m")
    return poi.join(out, "id", "left")


# ---------------------------------------------------------------------------
# visibility
# ---------------------------------------------------------------------------


def get_viewshed_GVI(
    point_of_interest: DataFrame,
    surface_tiles: DataFrame,
    network_edges: DataFrame,
    buffer_dist: int = 100,
    viewing_dist: int = 250,
    sample_dist: int = 50,
    observer_height: float = 1.7,
    replicate_reference_bug: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """→ (poi + [GVI, nr_of_points], per-sample-point table)
    (visibility.py:50-293).  ``surface_tiles`` = union of dsm/dtm/green
    tile tables.  ``replicate_reference_bug`` keeps the documented
    observer-height/resolution swap (SURVEY.md §2.8); pass False for
    corrected physics."""
    from .operators.visibility import viewshed_gvi

    _geom_type(point_of_interest)
    poi = _ensure_id(point_of_interest)
    agg, per_point = viewshed_gvi(
        poi, network_edges, surface_tiles,
        buffer_dist=float(buffer_dist), viewing_dist=float(viewing_dist),
        sample_dist=float(sample_dist), observer_height=observer_height,
        replicate_bug=replicate_reference_bug,
    )
    return poi.join(agg, "id", "left"), per_point


def get_streetview_GVI(
    point_of_interest: DataFrame,
    gvi_points: DataFrame,
    buffer_dist: int = 150,
) -> DataFrame:
    """→ poi + [GVI, nr_of_points] (visibility.py:296-437).
    ``gvi_points`` is the per-image GVI table produced by the external
    Mapillary/segmentation stage (functions/multimodal hooks); this is
    the in-scope J1+A6 aggregation."""
    from .operators.visibility import streetview_gvi_aggregate

    _geom_type(point_of_interest)
    poi = _ensure_id(point_of_interest)
    out = streetview_gvi_aggregate(gvi_points, poi, buffer_dist=float(buffer_dist), id_col="id")
    return poi.join(out, "id", "left")
