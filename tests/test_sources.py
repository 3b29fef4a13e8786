"""Catalog-table STAC selection (S5) + slippy-map tile math (S7)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _items(spark):
    rows = [
        # item_id, bbox, datetime, cloud, href
        ("s2_a", 4.0, 52.0, 5.0, 53.0, "2023-06-10 10:00:00", 12.5, "a.tif"),
        ("s2_b", 4.0, 52.0, 5.0, 53.0, "2023-06-20 10:00:00", 3.1, "b.tif"),
        ("s2_c", 4.0, 52.0, 5.0, 53.0, "2023-07-05 10:00:00", 3.1, "c.tif"),  # tie with b
        ("s2_d", 4.0, 52.0, 5.0, 53.0, "2023-06-15 10:00:00", 45.0, "d.tif"),  # too cloudy
        ("s2_e", 9.0, 45.0, 10.0, 46.0, "2023-06-15 10:00:00", 0.5, "e.tif"),  # wrong bbox
        # intersects but does NOT contain the AoI (covers its west half
        # only) with the lowest cloud of all — the reference's
        # contains() filter (availability.py:169) must reject it
        ("s2_f", 4.0, 52.0, 4.5, 53.0, "2023-06-18 10:00:00", 0.1, "f.tif"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["item_id", "minx", "miny", "maxx", "maxy", "datetime", "cloud_cover", "asset_href"]
    )
    pdf["datetime"] = pd.to_datetime(pdf["datetime"])
    return spark.createDataFrame(pdf)


def test_stac_least_cloudy_selection(spark):
    """Reference selection semantics (availability.py:156-177): bbox ∩,
    date range, cloud<20, lowest cloud wins, deterministic tie-break."""
    from greenex_py_spark.sources.stac import filter_items, least_cloudy_item

    items = _items(spark)
    got = least_cloudy_item(items, 4.4, 52.3, 4.6, 52.4,
                            start="2023-06-01", end="2023-07-31").collect()
    # s2_f intersects with the lowest cloud but doesn't CONTAIN the AoI
    assert len(got) == 1 and got[0]["item_id"] == "s2_b"  # tie: b < c
    # date range excludes b and c → d blocked by cloud → a
    got2 = least_cloudy_item(items, 4.4, 52.3, 4.6, 52.4,
                             start="2023-06-01", end="2023-06-12").collect()
    assert got2[0]["item_id"] == "s2_a"
    n = filter_items(items, 4.4, 52.3, 4.6, 52.4).count()
    assert n == 3  # a, b, c (d too cloudy, e wrong bbox)


def test_slippy_tile_math(spark):
    """Known slippy-map values (OSM wiki worked example: Berlin
    13.41,52.52 at z14 → tile 8802/5373) + codegen == scalar mirror +
    bbox cover shape."""
    from pyspark.sql import functions as F

    from greenex_py_spark.sources.tiles import (
        tile_of, tiles_for_bbox, with_tile,
    )

    assert tile_of(0.0, 0.0, 0) == (0, 0)
    assert tile_of(13.41, 52.52, 14) == (8802, 5373)
    assert tile_of(-0.1276, 51.5072, 10) == (511, 340)  # London
    pdf = pd.DataFrame({"lon": [13.41, -0.1276, 0.0], "lat": [52.52, 51.5072, 0.0]})
    df = with_tile(spark.createDataFrame(pdf), zoom=14)
    got = {(r["tile_x"], r["tile_y"]) for r in df.collect()}
    want = {tile_of(lon, lat, 14) for lon, lat in zip(pdf.lon, pdf.lat)}
    assert got == want
    cover = tiles_for_bbox(13.3, 52.4, 13.6, 52.6, 14)
    assert tile_of(13.41, 52.52, 14) in cover
    xs = {t[0] for t in cover}
    ys = {t[1] for t in cover}
    assert len(cover) == len(xs) * len(ys) and len(cover) >= 4
    # Web-Mercator domain: poles / lon=180 clamp into the grid
    assert tile_of(180.0, 0.0, 5) == (31, 16)
    assert tile_of(0.0, -89.9, 5) == (16, 31)
    assert tile_of(0.0, 89.9, 5) == (16, 0)
    for x, y in tiles_for_bbox(-180.0, -86.0, -170.0, -80.0, 10):
        assert 0 <= x < 1024 and 0 <= y < 1024
    with pytest.raises(ValueError, match="antimeridian"):
        tiles_for_bbox(170.0, 0.0, -170.0, 1.0, 10)


def test_pysource_equals_mapinpandas_ingest(spark):
    """The Spark-4 Python DataSource scan is bit-identical to the
    mapInPandas ingest job on the same grid (per-tile quantized sums
    agree), and Spark schedules one InputPartition per tile."""
    from pyspark.sql import functions as F

    from greenex_py_spark.data import driver_city as city
    from greenex_py_spark.sources.pysource import SinCosTileSource

    spark.dataSource.register(SinCosTileSource)
    via_source = (
        spark.read.format("sincos_tiles")
        .options(x0=str(city.X0), y0=str(city.Y0), res=str(city.RES),
                 tile_px=str(city.TILE_PX), npx=str(city.NPX),
                 x_scale="500", y_scale="500")
        .load()
    )

    def tile_sums(df):
        return {
            (r["tx"], r["ty"]): r["s"]
            for r in df.select(
                "tx", "ty", F.explode("px").alias("v")
            ).groupBy("tx", "ty").agg(
                F.sum(F.round(F.col("v") * 1e6).cast("long")).alias("s")
            ).collect()
        }

    assert tile_sums(via_source) == tile_sums(
        city.tiles_df(spark, "ndvi").select("tx", "ty", "px")
    )
    assert via_source.rdd.getNumPartitions() == 16


def test_term_freq_udtf_lateral(spark):
    """The UDTF expansion equals the relational explode+groupBy and
    runs through the Arrow UDTF path."""
    from pyspark.sql import functions as F

    from greenex_py_spark.functions.udtfs import register_term_freq

    register_term_freq(spark)
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "x")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("_udtf_t")
    got = {
        (r["doc_id"], r["tok"]): r["cnt"]
        for r in spark.sql(
            "SELECT d.doc_id, t.tok, t.cnt "
            "FROM _udtf_t d, LATERAL term_freq(d.text) t"
        ).collect()
    }
    assert got == {(1, "a"): 2, (1, "b"): 1, (2, "x"): 1}
    rel = {
        (r["doc_id"], r["tok"]): r["cnt"]
        for r in df.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    assert got == rel


# ---------------------------------------------------------------------------
# GeoPackage reader (VERDICT r04 #6 — real-data onboarding shim)
# ---------------------------------------------------------------------------


def _write_gpkg(path, pdf, table="parks", srs_id=28992, geom="geom"):
    """Synthesize a spec-shaped .gpkg: metadata tables + one features
    table whose BLOBs wrap the fixture polygons' WKB."""
    import sqlite3

    from greenex_py_spark.geo import wkb as wkbmod
    from greenex_py_spark.sources.gpkg import make_gpkg_blob

    with sqlite3.connect(path) as con:
        con.execute(
            "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)"
        )
        con.execute(
            "CREATE TABLE gpkg_geometry_columns "
            "(table_name TEXT, column_name TEXT, srs_id INTEGER)"
        )
        ident = '"' + table.replace('"', '""') + '"'
        con.execute(f"CREATE TABLE {ident} (gs_id INTEGER, tag TEXT, {geom} BLOB)")
        con.execute("INSERT INTO gpkg_contents VALUES (?, 'features')", (table,))
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, ?, ?)",
            (table, geom, srs_id),
        )
        for r in pdf.itertuples(index=False):
            rings = [np.asarray(x, dtype=float).reshape(-1, 2) for x in r.rings]
            blob = make_gpkg_blob(
                wkbmod.encode_polygon(rings), srs_id,
                envelope=(r.minx, r.maxx, r.miny, r.maxy),
            )
            con.execute(
                f"INSERT INTO {ident} VALUES (?, ?, ?)", (r.gs_id, r.tag, blob)
            )


def test_gpkg_blob_roundtrip():
    from greenex_py_spark.geo import wkb as wkbmod
    from greenex_py_spark.sources.gpkg import make_gpkg_blob, split_gpkg_blob

    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 5.0], [0.0, 5.0]])
    wkb = wkbmod.encode_polygon([ring])
    # with and without envelope, srs round-trips, payload byte-identical
    for env in (None, (0.0, 10.0, 0.0, 5.0)):
        srs, payload = split_gpkg_blob(make_gpkg_blob(wkb, 4326, env))
        assert srs == 4326 and payload == wkb
    # big-endian srs_id header (flags bit 0 = 0) parses too
    import struct

    be = b"GP" + bytes([0, 0]) + struct.pack(">i", 27700) + wkb
    srs, payload = split_gpkg_blob(be)
    assert srs == 27700 and payload == wkb
    import pytest

    with pytest.raises(ValueError, match="GP"):
        split_gpkg_blob(b"XX" + b"\x00" * 10)
    empty = b"GP" + bytes([0, 0b10001]) + struct.pack("<i", 0)
    with pytest.raises(ValueError, match="empty"):
        split_gpkg_blob(empty)


def test_gpkg_file_roundtrip(spark, tmp_path):
    """Synthesized .gpkg → gpkg_polygons_df: attributes verbatim, the
    derived bbox/centroid/area bit-identical to the fixture's own
    columns (same NumPy kernels)."""
    import pytest

    from greenex_py_spark.data import city_fixture as fx
    from greenex_py_spark.sources.gpkg import gpkg_polygons_df, read_gpkg_pdf

    pdf = fx.greenspace_rings_pdf().head(20)
    path = str(tmp_path / "parks.gpkg")
    _write_gpkg(path, pdf)
    got = gpkg_polygons_df(spark, path).toPandas().sort_values("gs_id")
    want = pdf.sort_values("gs_id")
    assert list(got.gs_id) == list(want.gs_id)
    assert list(got.tag) == list(want.tag)
    assert (got.srs_id == 28992).all()
    for c in ("minx", "miny", "maxx", "maxy", "cx", "cy", "area"):
        np.testing.assert_allclose(
            got[c].to_numpy(), want[c].to_numpy(), rtol=1e-12, atol=1e-9
        )
    # named-table selection + unknown-table error
    assert len(read_gpkg_pdf(path, table="parks")) == 20
    with pytest.raises(ValueError, match="not in"):
        read_gpkg_pdf(path, table="nope")
    # driver-materialization guard at cap / cap+1
    assert len(read_gpkg_pdf(path, max_rows=20)) == 20
    with pytest.raises(ValueError, match="parquet"):
        read_gpkg_pdf(path, max_rows=19)


def test_gpkg_table_name_with_quote(tmp_path):
    """A layer name containing '"' reads like any other."""
    from greenex_py_spark.data import city_fixture as fx
    from greenex_py_spark.sources.gpkg import read_gpkg_pdf

    pdf = fx.greenspace_rings_pdf().head(3)
    path = str(tmp_path / "quoted.gpkg")
    _write_gpkg(path, pdf, table='parks "north"')
    assert list(read_gpkg_pdf(path).gs_id) == list(pdf.gs_id)
    assert len(read_gpkg_pdf(path, table='parks "north"')) == 3


def test_gpkg_empty_geometry_rows_dropped(tmp_path):
    """Empty-geometry rows are dropped like NULL geometries instead of
    aborting the read."""
    import sqlite3
    import struct

    from greenex_py_spark.data import city_fixture as fx
    from greenex_py_spark.sources.gpkg import read_gpkg_pdf

    pdf = fx.greenspace_rings_pdf().head(3)
    path = str(tmp_path / "empties.gpkg")
    _write_gpkg(path, pdf)
    empty = b"GP" + bytes([0, 0b10001]) + struct.pack("<i", 28992)
    with sqlite3.connect(path) as con:
        con.execute("INSERT INTO parks VALUES (?, ?, ?)", (-1, "empty", empty))
        con.execute("INSERT INTO parks VALUES (?, ?, ?)", (-2, "null", None))
    got = read_gpkg_pdf(path)
    assert list(got.gs_id) == list(pdf.gs_id)


def test_parse_epsg_strings():
    import pytest

    from greenex_py_spark.geo.proj import crs_from_epsg, parse_epsg

    assert parse_epsg(28992) == 28992
    assert parse_epsg("28992") == 28992
    assert parse_epsg("epsg:28992") == 28992
    assert parse_epsg(" EPSG:27700 ") == 27700
    with pytest.raises(ValueError, match="cannot parse CRS"):
        parse_epsg("urn:ogc:def:crs:whatever")
    # string spelling reaches the same actionable unsupported-code error
    with pytest.raises(ValueError, match="unsupported epsg:2154"):
        crs_from_epsg("epsg:2154")
    assert crs_from_epsg("epsg:27700").kind == "tm"
