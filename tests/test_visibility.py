"""Viewshed GVI: vectorized kernel vs a direct loop transliteration of the
reference algorithm (visibility.py:460-562), plus the distributed halo
pipeline vs the in-process full-raster oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from greenex_py_spark.data import city_fixture as fx
from greenex_py_spark.data import driver_city as city
from greenex_py_spark.geo import raster


# --- direct transliteration of the reference loops (the oracle) -----------

def viewshed_loop(r0, c0, radius_px, resolution, observerHeight, targetHeight,
                  dsm, dtm):
    """Reference viewshed() with its positional-arg swap preserved
    (visibility.py:460-478 calling :481-522)."""
    output = np.zeros(dtm.shape)
    output[r0, c0] = 1
    for r1, c1 in raster.circle_perimeter(r0, c0, radius_px):
        # NOTE the swap: lineOfSight(observer_height=resolution,
        #                            resolution=observerHeight)
        observer_height, res_div = resolution, observerHeight
        max_dydx = 0.0
        height0 = dtm[r0, c0] + observer_height
        pixels = raster.bresenham_line(r0, c0, int(r1), int(c1))[1:]
        for r, c in pixels:
            dist = np.hypot(c0 - c, r0 - r)
            cur = (dsm[r, c] - height0) / (dist * res_div)
            if cur > max_dydx:
                max_dydx = cur
                output[r, c] = 1
    return output


def gvi_loop(full_dsm, full_dtm, full_green, r, c, R, res, oh):
    out = viewshed_loop(r, c, R, res, oh, 0.0, full_dsm, full_dtm)
    w = raster.weighting_mask(R, res)
    visible = out[r - R : r + R, c - R : c + R] * w
    vg = visible * (full_green[r - R : r + R, c - R : c + R] * w)
    return vg.sum() / visible.sum()


def test_bresenham_line_basics():
    l = raster.bresenham_line(0, 0, 3, 3)
    np.testing.assert_array_equal(l, [[0, 0], [1, 1], [2, 2], [3, 3]])
    l = raster.bresenham_line(2, 2, 2, 6)
    assert l[0].tolist() == [2, 2] and l[-1].tolist() == [2, 6] and len(l) == 5
    l = raster.bresenham_line(5, 5, 0, 3)  # steep + negative
    assert l[0].tolist() == [5, 5] and l[-1].tolist() == [0, 3] and len(l) == 6


def test_circle_perimeter_radius():
    per = raster.circle_perimeter(0, 0, 10)
    d = np.hypot(per[:, 0], per[:, 1])
    assert (d >= 9.0).all() and (d <= 10.5).all()
    # all octant symmetry present
    assert {(10, 0), (-10, 0), (0, 10), (0, -10)} <= set(map(tuple, per))


def test_disk_mask_strict_boundary():
    m = raster.disk_mask(5)
    assert m.shape == (10, 10)
    assert m[5, 5]
    assert not m[5, 0]  # (dr,dc)=(0,-5) → (5/5)²=1 → strictly-less test excludes
    assert m[5, 1]


def test_kernel_matches_loop_transliteration():
    """Vectorized viewshed/GVI == direct loop port on real fixture data."""
    dsm = fx.full_raster("dsm")
    dtm = fx.full_raster("dtm")
    green = fx.full_raster("green")
    R = 50
    res = fx.DSM_RES
    rng_pts = [(300, 400), (777, 555), (1200, 1201), (618, 1599)]
    for r, c in rng_pts:
        want_vs = viewshed_loop(r, c, R, res, 1.7, 0.0, dsm, dtm)
        got_vs = raster.viewshed_window(
            dsm[r - R : r + R + 1, c - R : c + R + 1],
            dtm[r - R : r + R + 1, c - R : c + R + 1],
            R, res, 1.7, 0.0, replicate_bug=True,
        )
        np.testing.assert_array_equal(
            got_vs, want_vs[r - R : r + R + 1, c - R : c + R + 1]
        )
        want = gvi_loop(dsm, dtm, green, r, c, R, res, 1.7)
        got = raster.gvi_at_point(
            dsm[r - R : r + R + 1, c - R : c + R + 1],
            dtm[r - R : r + R + 1, c - R : c + R + 1],
            green[r - R : r + R + 1, c - R : c + R + 1],
            R, res, 1.7, 0.0, replicate_bug=True,
        )
        np.testing.assert_allclose(got, want, rtol=0, atol=0)


def test_bug_flag_changes_result():
    dsm = fx.full_raster("dsm")
    dtm = fx.full_raster("dtm")
    r, c = 513, 901  # a ray here crosses a short-then-tall building pair
    R = 50
    w_bug = raster.viewshed_window(
        dsm[r - R : r + R + 1, c - R : c + R + 1],
        dtm[r - R : r + R + 1, c - R : c + R + 1], R, fx.DSM_RES, 1.7,
        replicate_bug=True)
    w_fix = raster.viewshed_window(
        dsm[r - R : r + R + 1, c - R : c + R + 1],
        dtm[r - R : r + R + 1, c - R : c + R + 1], R, fx.DSM_RES, 1.7,
        replicate_bug=False)
    assert (w_bug != w_fix).any()  # effective observer height 5.0 vs 1.7


def _surface_tiles(spark, tile_px):
    return (
        fx.surface_tiles_df(spark, "dsm", tile_px)
        .unionByName(fx.surface_tiles_df(spark, "dtm", tile_px))
        .unionByName(fx.surface_tiles_df(spark, "green", tile_px))
    )


@pytest.mark.slow
def test_distributed_pipeline_matches_oracle(spark):
    """3 interior PoIs through the full Spark pipeline == in-process oracle."""
    from greenex_py_spark.operators.visibility import viewshed_gvi

    pois = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 2, 3],
             "x": [city.X0 + 3000.0, city.X0 + 5200.0, city.X0 + 7400.0],
             "y": [city.Y0 + 3000.0, city.Y0 + 5200.0, city.Y0 + 2600.0]}
        )
    )
    _, edges = fx.network_dfs(spark)
    agg, per_point = viewshed_gvi(
        pois, edges, _surface_tiles(spark, 256), buffer_dist=100.0, viewing_dist=250.0,
        sample_dist=50.0,
    )
    pp = per_point.toPandas().sort_values(["id", "sp_id"]).reset_index(drop=True)
    assert len(pp) > 0 and pp.GVI.notna().all()

    dsm = fx.full_raster("dsm")
    dtm = fx.full_raster("dtm")
    green = fx.full_raster("green")
    R = int(250.0 // fx.DSM_RES)
    for row in pp.itertuples(index=False):
        c = int((row.x - city.X0) // fx.DSM_RES)
        r = int((row.y - city.Y0) // fx.DSM_RES)
        want = gvi_loop(dsm, dtm, green, r, c, R, fx.DSM_RES, 1.7)
        np.testing.assert_allclose(row.GVI, want, rtol=0, atol=0)

    a = agg.toPandas().set_index("id")
    for pid, grp in pp.groupby("id"):
        np.testing.assert_allclose(a.loc[pid, "GVI"], np.mean(grp.GVI.to_numpy()).round(3))
        assert a.loc[pid, "nr_of_points"] == len(grp)


def test_batch_kernel_bit_identical():
    """gvi_batch == gvi_at_point bit-for-bit on fixture windows (the
    distributed pipeline's exactness hinges on this)."""
    import numpy as np

    from greenex_py_spark.data import city_fixture as fx
    from greenex_py_spark.geo import raster

    R = int(250.0 // fx.DSM_RES)
    npx = fx.DSM_NPX
    col = np.arange(npx)[None, :]
    row = np.arange(npx)[:, None]
    dsm = fx.dsm_value(col, row)
    dtm = fx.dtm_value(col, row)
    green = fx.green_value(col, row)
    rng = np.random.default_rng(7)
    iy = rng.integers(R, npx - R - 1, size=40)
    ix = rng.integers(R, npx - R - 1, size=40)
    batch = raster.gvi_batch(dsm, dtm, green, iy, ix, R, fx.DSM_RES, 1.7)
    for k in range(len(iy)):
        sl = (slice(iy[k] - R, iy[k] + R + 1), slice(ix[k] - R, ix[k] + R + 1))
        want = raster.gvi_at_point(dsm[sl], dtm[sl], green[sl], R, fx.DSM_RES, 1.7)
        if np.isnan(want):
            assert np.isnan(batch[k])
        else:
            assert batch[k] == want, (k, batch[k], want)


@pytest.mark.slow
def test_halo_crop_is_tile_size_invariant(spark):
    """Per-point GVI is the same over 64-px and 256-px surface tiles.

    At 64 px (320 m) the halo crops each neighbour tile north or south of
    a home to its R = 50 rows, and the last tile row holds only
    2000 - 31·64 = 16 < R rows.  PoI 1 sits on the corner of four 64-px
    tiles; PoI 2's sample points near y = 9700 m read rows of that short
    northern tile row; PoI 3 is interior."""
    from greenex_py_spark.operators.visibility import viewshed_gvi

    pois = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 2, 3],
             "x": [city.X0 + 3200.0, city.X0 + 5000.0, city.X0 + 6100.0],
             "y": [city.Y0 + 3200.0, city.Y0 + 9700.0, city.Y0 + 4500.0]}
        )
    )
    _, edges = fx.network_dfs(spark)
    got = {}
    for tile_px in (64, 256):
        _, per_point = viewshed_gvi(
            pois, edges, _surface_tiles(spark, tile_px), buffer_dist=100.0,
            viewing_dist=250.0, sample_dist=50.0, grid=fx.surface_grid(tile_px),
        )
        got[tile_px] = (
            per_point.toPandas().sort_values(["id", "sp_id"]).reset_index(drop=True)
        )
    pp = got[256]
    assert set(pp.id) == {1, 2, 3} and pp.GVI.notna().sum() > 0
    # PoI 2 has points whose window reads the 16-row tile row (iy + R >= 1984)
    iy = ((pp.y - city.Y0) // fx.DSM_RES).astype(int)
    assert ((pp.id == 2) & pp.GVI.notna() & (iy + 50 >= 1984)).any()
    pd.testing.assert_frame_equal(got[64], pp)


def test_viewing_dist_beyond_tile_halo_raises(spark):
    """R = viewing_dist // res = 50 px cannot fit the 3×3 halo of 32-px
    tiles: the call fails at plan time, naming the three quantities."""
    from greenex_py_spark.operators.visibility import viewshed_gvi

    pois = spark.createDataFrame(
        pd.DataFrame({"id": [1], "x": [city.X0 + 3000.0], "y": [city.Y0 + 3000.0]})
    )
    _, edges = fx.network_dfs(spark)
    with pytest.raises(ValueError, match=r"viewing_dist=250\.0.*res=5\.0.*tile_px=32"):
        viewshed_gvi(pois, edges, _surface_tiles(spark, 32), viewing_dist=250.0,
                     grid=fx.surface_grid(32))
