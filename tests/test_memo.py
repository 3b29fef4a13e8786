"""The session memo of per-dataset derivations (``engine.memo``): what it
returns after the data changed, after the session stopped, and how many
cached relations it leaves behind."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

from greenex_py_spark.data import city_fixture as fx
from greenex_py_spark.data import driver_city as city

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tiles(origin_x: float) -> pd.DataFrame:
    return pd.DataFrame(
        [dict(layer="v", tx=tx, ty=ty, x0=origin_x + tx * 20.0, y0=500.0 + ty * 20.0,
              res=2.0, w=10, h=10, px=[0.0]) for tx in range(3) for ty in range(2)]
    )


def test_from_tiles_rereads_a_rewritten_file_after_clear_cache(spark, tmp_path):
    """A file scan is canonicalised by its path, so a re-read of a
    rewritten tile file is the same frame to the memo until
    ``clearCache()`` drops the memo with Spark's cache."""
    from greenex_py_spark.geo.grid import GridSpec

    path = str(tmp_path / "tiles")
    schema = ("layer string, tx int, ty int, x0 double, y0 double, res double, "
              "w int, h int, px array<double>")

    def write(origin_x: float) -> None:
        spark.createDataFrame(_tiles(origin_x), schema).write.mode("overwrite").parquet(path)

    write(1000.0)
    old = GridSpec.from_tiles(spark.read.parquet(path))
    assert (old.origin_x, old.tile_px, old.npx_x, old.npx_y) == (1000.0, 10, 30, 20)
    write(4000.0)
    assert GridSpec.from_tiles(spark.read.parquet(path)) == old  # the path-keyed hit
    spark.catalog.clearCache()
    assert GridSpec.from_tiles(spark.read.parquet(path)).origin_x == 4000.0


def test_snap_tiers_stay_within_the_memo_bound(spark, monkeypatch):
    """Each distinct PoI batch persists one snap tier; the memo's LRU
    bound unpersists the oldest, so six network calls over six batches
    leave at most the bound's number of cached relations."""
    from greenex_py_spark import api
    from greenex_py_spark.engine import memo

    bound = 4
    monkeypatch.setattr(memo, "_MAX_ENTRIES", bound)
    cache = spark._jsparkSession.sharedState().cacheManager()
    nodes, edges = (df.localCheckpoint() for df in fx.network_dfs(spark))
    greens = city.greenspace_df(spark).localCheckpoint()
    before = cache.numCachedEntries()
    for k in range(6):
        pois = spark.createDataFrame(
            pd.DataFrame({"x": [city.X0 + 3000.0 + 40.0 * k], "y": [city.Y0 + 3000.0]})
        )
        api.get_shortest_distance_greenspace(
            pois, greens, target_dist=300, distance_type="network",
            network_nodes=nodes, network_edges=edges,
        ).write.format("noop").mode("overwrite").save()
    assert cache.numCachedEntries() - before <= bound


def test_a_new_session_builds_its_own_csr_broadcast(tmp_path):
    """After ``spark.stop()`` the next session (same JVM, as perfbench's
    set-ups run) builds a new CSR broadcast: broadcast ids restart at 0
    in a new context, so the dead context's one must never be read.
    The network is read from parquet, so both sessions' frames are
    semantically equal and only the context tells them apart.  Runs in
    its own process, since it stops its session."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from greenex_py_spark.data import city_fixture as fx
        from greenex_py_spark.data import driver_city as city
        from greenex_py_spark.engine import memo
        from greenex_py_spark.operators import network
        from greenex_py_spark.session import get_spark

        def run(spark):
            nodes, edges = (spark.read.parquet({str(tmp_path)!r} + "/" + n)
                            for n in ("nodes", "edges"))
            pts = spark.createDataFrame(pd.DataFrame(
                {{"id": [1, 2], "x": [city.X0 + 3000.0, city.X0 + 5200.0],
                  "y": [city.Y0 + 3000.0, city.Y0 + 5200.0]}}))
            out = network.bounded_network_distances(
                network.nearest_node(pts, nodes), nodes, edges, 450.0)
            rows = sorted(map(tuple, out.collect()))
            (bc,) = [v for (name, *_), (_, v) in memo._state.entries.items()
                     if name == "csr_broadcast"]
            return rows, bc

        spark = get_spark(cores=1)
        for name, df in zip(("nodes", "edges"), fx.network_dfs(spark)):
            df.write.parquet({str(tmp_path)!r} + "/" + name)
        rows1, bc1 = run(spark)
        spark.stop()
        spark = get_spark(cores=1)
        spark.sparkContext.broadcast("first broadcast of the new context")
        rows2, bc2 = run(spark)
        spark.stop()
        assert bc2 is not bc1, "the dead context's broadcast was reused"
        assert rows1 == rows2 and rows1, (len(rows1), len(rows2))
        print("OK", len(rows1))
    """)
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    done = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                          text=True, timeout=600)
    assert done.returncode == 0 and "OK" in done.stdout, done.stderr[-3000:]


def test_concurrent_callers_build_once(spark):
    """Threads asking for one value at once get one build and the same
    value: the memo's check-then-insert holds its lock."""
    import threading

    from greenex_py_spark.engine.memo import memo

    frame = spark.range(7).localCheckpoint()
    builds, got = [], []

    def build():
        builds.append(1)
        return object()

    def ask():
        for _ in range(20):
            got.append(memo("concurrent_callers", [frame], build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=ask) for _ in range(2 * len(os.sched_getaffinity(0)))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 20 * len(threads)
    assert all(v is got[0] for v in got)
