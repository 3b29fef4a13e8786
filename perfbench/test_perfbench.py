"""The benchmark's own tests: seeded inputs, metric names against
BENCHMARK.json, and a tiny-N smoke pass of every workload.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

import inputs as gen
import run
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tables(seed):
    nodes, edges = gen.street_network(seed)
    return [gen.pois(seed, 500), nodes, edges, gen.streetview_images(seed, 300)]


def _same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype == object:
            if not all(np.array_equal(u, v) for u, v in zip(x, y)):
                return False
        elif not np.array_equal(x, y, equal_nan=True):
            return False
    return True


def test_same_seed_same_inputs_other_seed_other_inputs():
    first, again, other = _tables(7), _tables(7), _tables(8)
    for a, b, c in zip(first, again, other):
        assert _same(a, b)
        assert not _same(a, c)


def test_inputs_have_the_documented_shape():
    p = gen.pois(3, 10_000)
    core = p.x.between(gen.city.CORE_X0, gen.city.CORE_X0 + gen.city.CORE_EXTENT) & p.y.between(
        gen.city.CORE_Y0, gen.city.CORE_Y0 + gen.city.CORE_EXTENT
    )
    assert 0.55 < core.mean() < 0.7
    img = gen.streetview_images(3, 10_000)
    assert 0.04 < img.GVI.isna().mean() < 0.08
    _, edges = gen.street_network(3)
    lattice_edges = 2 * 2 * 100 * 101
    assert 0.95 * lattice_edges < len(edges) < lattice_edges
    from greenex_py_spark.operators.network import DRIVER_MAX_EDGES

    assert len(edges) < DRIVER_MAX_EDGES


def test_green_raster_matches_the_fixture():
    from greenex_py_spark.data import city_fixture as fx

    ix = np.arange(300, 700)
    iy = np.arange(1200, 1600)
    want = fx.green_value(ix[None, :], iy[:, None])
    got = gen.green_raster()[1200:1600, 300:700]
    assert want.sum() > 0
    np.testing.assert_array_equal(got, want)


def test_metric_names_agree_with_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (n, u) for n, u, _ in run.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, u) for n, u, _ in run.per_layer_specs()
    ]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_summary_reports_a_tail_only_with_ten_samples_beyond_it():
    assert set(run.summary([1.0] * 19)) == {"n", "median"}
    assert "p50" in run.summary([1.0] * 20)
    assert "p90" in run.summary(list(range(100)))


def test_parse_metric_reads_spark_formats():
    from trace import parse_metric

    assert parse_metric("3") == 3
    assert parse_metric("1,234") == 1234
    assert parse_metric("1024.0 KiB") == 2**20
    assert parse_metric("1.5 s") == 1.5
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "96.0 B (32.0 B, 32.0 B, 32.0 B (stage 13.0: task 24))") == 96
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "11 ms (0 ms, 1 ms, 9 ms (stage 13.0: task 23))") == pytest.approx(0.011)


def test_self_time_subtracts_the_union_of_children():
    from trace import Span, Tracer

    tr = Tracer()
    tr.spans = [Span(1, "c", None, "root", 0.0, 10.0), Span(2, "c", 1, "a", 1.0, 4.0),
                Span(3, "c", 1, "b", 3.0, 5.0), Span(4, "c", 2, "a.inner", 1.5, 2.0),
                Span(5, "c", 1, "d", 8.0, 9.0)]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.5)


def test_patched_wraps_every_layer_and_restores_it():
    from layers import LAYER_FUNCTIONS, patched
    from trace import Tracer

    before = {n: owner.__dict__[attr] for n, (owner, attr) in LAYER_FUNCTIONS.items()}
    with patched(Tracer(), []):
        assert all(owner.__dict__[attr] is not before[n]
                   for n, (owner, attr) in LAYER_FUNCTIONS.items())
    assert all(owner.__dict__[attr] is before[n] for n, (owner, attr) in LAYER_FUNCTIONS.items())


@pytest.fixture(scope="module")
def spark():
    import host
    from greenex_py_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    s = get_spark(app_name="perfbench-tests", cores=2,
                  extra_conf=host.spark_conf(str(run.WORK), 1024))
    yield s
    s.stop()


def test_ndvi_tiles_match_the_fixture(spark):
    from greenex_py_spark.data import driver_city as city

    want = city.tiles_df(spark, "ndvi").toPandas().sort_values(["ty", "tx"])
    got = gen.ndvi_tiles().sort_values(["ty", "tx"])
    assert _same(want.reset_index(drop=True), got.reset_index(drop=True))


def test_surface_tiles_match_the_fixture(spark):
    from pyspark.sql import functions as F

    from greenex_py_spark.data import city_fixture as fx

    got = gen.surface_tiles().set_index(["layer", "tx", "ty"])
    for layer in ("dsm", "green"):
        want = (fx.surface_tiles_df(spark, layer)
                .filter(F.col("tx").isin(0, 3, 7) & F.col("ty").isin(2, 7)).toPandas())
        assert len(want) == 6
        for r in want.itertuples(index=False):
            g = got.loc[(layer, r.tx, r.ty)]
            assert (g.x0, g.y0, g.res, g.w, g.h) == (r.x0, r.y0, r.res, r.w, r.h)
            assert g.px == bytes(r.px)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_smoke_pass_has_no_errors(spark, name):
    from workloads import build_tables

    w = WORKLOADS[name]
    r = run.Run(w)
    tables = build_tables(spark, w, seed=5, n_pois=12 if w.n_pois < 1000 else 2_000)
    r.check_pass(tables)
    for c in w.calls:
        assert r.timed_call(c, tables) is not None
    r.repeat_check()
    assert r.failed == 0
    assert r.attempted == 3 * len(w.calls)


def test_work_cpu_counts_reaped_children():
    import host

    before = host.work_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert host.work_cpu_s() - before >= 0.25
