"""The benchmark's workloads: which seeded tables each one builds and
which public ``api`` calls one pass of it issues.

A call's metric stem (``mean_ndvi``, ``viewshed`` ...) names it in every
printed line and in the trace; ``Call.run`` is exactly what a user of
``greenex_py_spark.api`` would write.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

import inputs as gen
from greenex_py_spark import api
from greenex_py_spark.data import city_fixture as fx
from greenex_py_spark.data import driver_city as city


@dataclass(frozen=True)
class Call:
    name: str
    run: Callable[[dict], DataFrame]
    out_cols: tuple[str, ...]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pois: int
    tables: tuple[str, ...]
    calls: tuple[Call, ...]
    n_images: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "python_kernels",
            "few PoIs with costly rows: each call runs an Arrow Python kernel (zonal mosaic, "
            "isochrone mask, viewshed) and the network calls snap, broadcast and Dijkstra",
            n_pois=20,
            tables=("pois", "ndvi", "rings", "nodes", "edges", "surface"),
            calls=(
                Call("mean_ndvi",
                     lambda t: api.get_mean_NDVI(t["pois"], t["ndvi"], buffer_type="euclidean",
                                                 buffer_dist=300),
                     ("mean_NDVI", "std_NDVI")),
                Call("gs_pct_network",
                     lambda t: api.get_greenspace_percentage(
                         t["pois"], t["rings"], buffer_type="network", buffer_dist=350,
                         network_nodes=t["nodes"], network_edges=t["edges"]),
                     ("greenspace_cover",)),
                Call("viewshed",
                     lambda t: api.get_viewshed_GVI(t["pois"], t["surface"], t["edges"])[0],
                     ("GVI", "nr_of_points")),
            ),
        ),
        Workload(
            "address_scale",
            "a city's address list with cheap rows and no Python stage: id/join-back, "
            "the broadcast cell-candidate join and the streetview nested-loop join",
            n_pois=100_000,
            n_images=1_000,
            tables=("pois", "greens", "images"),
            calls=(
                Call("access_euclid",
                     lambda t: api.get_shortest_distance_greenspace(t["pois"], t["greens"],
                                                                    target_dist=300),
                     ("greenspace_within_300m", "distance_to_greenspace")),
                Call("streetview",
                     lambda t: api.get_streetview_GVI(t["pois"], t["images"], buffer_dist=150),
                     ("GVI", "nr_of_points")),
            ),
        ),
    )
}


def build_tables(spark, w: Workload, seed: int, n_pois: int | None = None) -> dict:
    """Create and ``localCheckpoint`` every table the workload's calls
    read; returns Spark frames plus the pandas PoI/image frames the
    output checks mirror."""
    n = w.n_pois if n_pois is None else n_pois
    t: dict = {"pois_pdf": gen.pois(seed, n)}
    makers = {
        "pois": lambda: spark.createDataFrame(t["pois_pdf"], gen.POIS_SCHEMA),
        "ndvi": lambda: spark.createDataFrame(gen.ndvi_tiles(), gen.NDVI_TILES_SCHEMA),
        "rings": lambda: fx.greenspace_rings_df(spark),
        "greens": lambda: city.greenspace_df(spark),
        "surface": lambda: spark.createDataFrame(gen.surface_tiles(), gen.SURFACE_SCHEMA),
        "images": lambda: spark.createDataFrame(t["images_pdf"], gen.IMAGES_SCHEMA),
    }
    if "images" in w.tables:
        t["images_pdf"] = gen.streetview_images(seed, w.n_images)
    if "nodes" in w.tables:
        nodes, edges = gen.street_network(seed)
        makers["nodes"] = lambda: spark.createDataFrame(nodes, gen.NODES_SCHEMA)
        makers["edges"] = lambda: spark.createDataFrame(edges, gen.EDGES_SCHEMA)
    for name in w.tables:
        t[name] = makers[name]().localCheckpoint()
    return t
