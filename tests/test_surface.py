"""Coverage for public API surface not on the driver-gate hot path —
every function COVERAGE.md cites must actually run and be correct
(found by a defs-vs-uses AST audit; these were defined-but-unexercised).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_nearest_k_matches_brute_force(spark):
    from greenex_py_spark.operators.accessibility import nearest_k

    rng = np.random.default_rng(3)
    px, py = rng.uniform(0, 1000, 20), rng.uniform(0, 1000, 20)
    tx, ty = rng.uniform(0, 1000, 50), rng.uniform(0, 1000, 50)
    pts = spark.createDataFrame(pd.DataFrame({"id": range(20), "x": px, "y": py}))
    tgt = spark.createDataFrame(pd.DataFrame({"gs_id": range(50), "x": tx, "y": ty}))
    got = nearest_k(pts, tgt, k=3).toPandas()
    assert (got.groupby("id").size() == 3).all()
    for pid in range(20):
        d = np.hypot(tx - px[pid], ty - py[pid])
        want = set(np.argsort(d, kind="stable")[:3])
        have = set(got[got.id == pid].gs_id)
        assert have == want, pid
    # distance-bounded variant: the brute-force top-3 among the targets
    # within 200 m (fewer, or none, where fewer are that close)
    bounded = nearest_k(pts, tgt, k=3, max_dist=200.0).toPandas()
    assert (bounded.nn_dist <= 200.0).all()
    for pid in range(20):
        d = np.hypot(tx - px[pid], ty - py[pid])
        want = [i for i in np.argsort(d, kind="stable")[:3] if d[i] <= 200.0]
        have = bounded[bounded.id == pid].sort_values("nn_rank")
        assert list(have.gs_id) == want, pid
        np.testing.assert_allclose(have.nn_dist, d[want], rtol=1e-12)


def test_nearest_k_crossjoin_cap_boundary(spark, monkeypatch):
    """max_dist=None crossJoin guard fires at cap+1 targets, not at cap
    (VERDICT r04 #2); the error names the remedy (pass max_dist)."""
    import pytest

    from greenex_py_spark.operators import accessibility as acc

    rng = np.random.default_rng(7)
    pts = spark.createDataFrame(
        pd.DataFrame({"id": range(5),
                      "x": rng.uniform(0, 100, 5), "y": rng.uniform(0, 100, 5)})
    )
    tgt = spark.createDataFrame(
        pd.DataFrame({"gs_id": range(50),
                      "x": rng.uniform(0, 100, 50), "y": rng.uniform(0, 100, 50)})
    )
    monkeypatch.setattr(acc, "MAX_CROSSJOIN_TARGETS", 50)
    assert acc.nearest_k(pts, tgt, k=1).count() == 5          # at cap: runs
    monkeypatch.setattr(acc, "MAX_CROSSJOIN_TARGETS", 49)
    with pytest.raises(ValueError, match="max_dist"):          # cap+1: raises
        acc.nearest_k(pts, tgt, k=1)
    # the bounded path is never guarded (no collect, no crossJoin)
    assert acc.nearest_k(pts, tgt, k=1, max_dist=500.0).count() > 0


def test_cosine_topk_query_cap_boundary(spark, sf_dir):
    """Broadcast-queries collect guard fires at cap+1 query rows, not at
    cap, and the bounded probe never changes the result (VERDICT r04 #2)."""
    import pytest

    from greenex_py_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    at_cap = cosine_topk(q, emb, k=3, max_query_rows=8).toPandas()
    assert set(at_cap.q_id) == set(range(8))
    default_cap = cosine_topk(q, emb, k=3).toPandas()  # default cap ≫ 8
    assert at_cap.sort_values(["q_id", "rank"]).reset_index(drop=True).equals(
        default_cap.sort_values(["q_id", "rank"]).reset_index(drop=True)
    )
    with pytest.raises(ValueError, match="query side exceeds"):
        cosine_topk(q, emb, k=3, max_query_rows=7)


def test_simhash_pairs_pigeonhole(spark):
    from greenex_py_spark.driver_queries import _corpus_df
    from greenex_py_spark.functions.dedup import simhash, simhash_pairs

    corpus = _corpus_df(spark, "/root/testdata/sf0.001")
    pairs = simhash_pairs(corpus, max_hamming=3).toPandas()
    fp = simhash(corpus).toPandas().set_index("id")["simhash"]
    # every returned pair's true hamming distance matches and is ≤ 3
    for r in pairs.itertuples(index=False):
        ham = bin(int(fp[r.id_a]) ^ int(fp[r.id_b])).count("1")
        assert ham == r.hamming and ham <= 3
    # completeness: pigeonhole banding finds ALL pairs ≤ max_hamming
    ids = fp.index.to_numpy()
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if bin(int(fp[ids[i]]) ^ int(fp[ids[j]])).count("1") <= 3:
                want.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    assert set(zip(pairs.id_a, pairs.id_b)) == want


def test_cosine_pairs_bucketed_subset_of_exact(spark):
    from greenex_py_spark.functions.similarity import cosine_pairs, cosine_pairs_blocked

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_pairs_blocked(
        emb.select("vec_id", F.transform("embedding", lambda e: e.cast("double")).alias("embedding")),
        threshold=0.8,
    ).toPandas()
    lsh = cosine_pairs(emb, threshold=0.8).toPandas()
    e = set(zip(exact.id_a, exact.id_b))
    l = set(zip(lsh.id_a, lsh.id_b))
    assert l <= e  # bucketing can miss, never invent
    m = exact.merge(lsh, on=["id_a", "id_b"], suffixes=("_e", "_l"))
    assert (m.sim_e == m.sim_l).all()


def test_minhash_signatures_shape_and_values(spark):
    from greenex_py_spark.functions.dedup import (
        P_MOD,
        SID_MOD,
        _perm_consts,
        minhash_signatures,
        shingles,
    )

    df = spark.createDataFrame(
        [(7, "a b c d e f g h")], "doc_id long, text string"
    )
    sig = minhash_signatures(df, num_perm=4).toPandas().sort_values("j")
    assert sig.id.eq(7).all() and sig.j.tolist() == [0, 1, 2, 3]
    # recompute expected min-hash from the shingle ints
    sh = shingles(df, 3).toPandas()
    import hashlib

    sids = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16) % SID_MOD for s in sh.sh]
    for j, (a, b) in enumerate(_perm_consts(4)):
        want = min((a * s + b) % P_MOD for s in sids)
        assert int(sig[sig.j == j].mh.iloc[0]) == want


def test_tokens_regex_punctuation(spark):
    from greenex_py_spark.functions.text import tokens_regex

    df = spark.createDataFrame([(1, "Hello, world! x2")], "id long, text string")
    out = tokens_regex(df).select("toks").first()[0]
    assert out == ["Hello", ",", " ", "world", "!", " ", "x2"]


def test_line_length_and_polygon_cover():
    from greenex_py_spark.geo import kernels
    from greenex_py_spark.geo.cells import cell_of, polygon_cover

    assert kernels.line_length(np.array([0.0, 3.0, 3.0]), np.array([0.0, 4.0, 8.0])) == 9.0
    ring = np.array([[100010.0, 450010.0], [100190.0, 450010.0],
                     [100190.0, 450190.0], [100010.0, 450190.0]])
    cover = set(np.asarray(polygon_cover([ring])).ravel().tolist())
    # superset property: the cell of every ring vertex is covered
    for x, y in ring:
        assert int(cell_of(np.array([x]), np.array([y]))[0]) in cover


def test_stage_metrics_measure_and_timed(spark, tmp_path):
    import json

    from greenex_py_spark.engine.metrics import StageMetrics

    m = StageMetrics("unit", out_dir=str(tmp_path))
    df = spark.range(10)
    m.measure("range", df)
    with m.timed("noop-sleep"):
        pass
    path = m.dump()
    d = json.load(open(path))
    assert d["stages"][0] == {"stage": "range", "rows": 10, "wall_ms": d["stages"][0]["wall_ms"]}
    assert d["stages"][1]["stage"] == "noop-sleep"


def test_kmeans_quantized_deterministic(spark):
    """Quantized Lloyd rounds: assignment is the true (rounded) argmin
    against the final centroids, and reruns are identical."""
    from greenex_py_spark.functions.clustering import kmeans_fit_predict

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = kmeans_fit_predict(emb, k=4, iters=2).toPandas().sort_values("vec_id")
    b = kmeans_fit_predict(emb, k=4, iters=2).toPandas().sort_values("vec_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    assert set(a.cluster) <= {0, 1, 2, 3}
    # every cluster non-trivial on this corpus
    assert a.cluster.value_counts().min() > 0


def test_hash_split_stability_and_rates(spark):
    """Hash splits are per-key stable (same doc → same split on rerun
    and across SFs for overlapping ids) and rates land near nominal."""
    from greenex_py_spark.functions.sampling import hash_split

    d1 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = hash_split(d1).select("doc_id", "split").toPandas()
    b = hash_split(d1).select("doc_id", "split").toPandas()
    assert a.sort_values("doc_id").split.tolist() == b.sort_values("doc_id").split.tolist()
    d2 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    big = hash_split(d2).select("doc_id", "split").toPandas().set_index("doc_id")
    small = a.set_index("doc_id")
    common = small.index.intersection(big.index)
    assert len(common) > 0
    assert (small.loc[common, "split"] == big.loc[common, "split"]).all()
    frac = (big.split != "train").mean()
    assert 0.06 <= frac <= 0.14  # nominal 10% val+test


def test_operators_are_fixture_free():
    """No operator module may import the synthetic-fixture data modules
    (r01 verdict structural flaw): grid/raster geometry must arrive as a
    GridSpec / DataFrame parameter, never from data.driver_city or
    data.city_fixture."""
    import ast
    import pathlib

    ops = pathlib.Path("/root/repo/greenex_py_spark/operators")
    offenders = []
    for p in sorted(ops.glob("*.py")):
        tree = ast.parse(p.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module and "data" in node.module.split("."):
                offenders.append(f"{p.name}:{node.lineno} from {node.module}")
            if isinstance(node, ast.Import):
                for a in node.names:
                    if "data" in a.name.split("."):
                        offenders.append(f"{p.name}:{node.lineno} import {a.name}")
    assert not offenders, offenders


def test_round_loops_checkpoint_through_fixpoint():
    """No loop body in the package checkpoints by hand: a plain
    ``localCheckpoint`` carried round to round compounds plan statistics
    (BENCH/SCALE_AUDIT.md), so every round loop runs under
    ``engine/iterate.fixpoint``, the one place that checkpoints state.
    Functions defined inside a loop body are not part of it."""
    import ast
    import pathlib

    import greenex_py_spark

    pkg = pathlib.Path(greenex_py_spark.__file__).parent
    banned = {"localCheckpoint", "localcheckpoint_fresh"}

    def calls(node, in_loop):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                yield from calls(ch, False)
                continue
            if in_loop and isinstance(ch, ast.Call):
                f = ch.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in banned:
                    yield ch.lineno
            yield from calls(ch, in_loop or isinstance(ch, (ast.For, ast.While)))

    offenders = [
        f"{p.relative_to(pkg)}:{line}"
        for p in sorted(pkg.rglob("*.py"))
        if p.relative_to(pkg).as_posix() != "engine/iterate.py"
        for line in calls(ast.parse(p.read_text()), False)
    ]
    assert not offenders, offenders
    stats_resets = [
        p.name for p in pkg.rglob("*.py")
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "localcheckpoint_fresh"
    ]
    assert stats_resets == ["iterate.py"]


def test_halo_exchange_lives_in_one_scaffold():
    """focal.py wires the halo exchange once: ``_halo_parts`` and
    ``applyInPandas`` are referenced only inside ``_halo_stats``, so a
    focal operator is a stencil handed to it.  And every map-side tile
    kernel quantises pixels through ``focal._quantized_tiles``: no other
    function in the package calls ``quantize_half_away``."""
    import ast
    import pathlib

    import greenex_py_spark

    pkg = pathlib.Path(greenex_py_spark.__file__).parent

    def refs(tree, names):
        """(enclosing top-level function, name) of every reference."""
        for top in tree.body:
            for n in ast.walk(top):
                name = n.attr if isinstance(n, ast.Attribute) else getattr(n, "id", None)
                if name in names:
                    yield getattr(top, "name", None), name

    focal = ast.parse((pkg / "operators" / "focal.py").read_text())
    halo = sorted(set(refs(focal, {"_halo_parts", "applyInPandas"})))
    assert halo == [("_halo_stats", "_halo_parts"), ("_halo_stats", "applyInPandas")]
    quantizers = sorted(
        f"{p.relative_to(pkg)}:{fn}"
        for p in pkg.rglob("*.py")
        for fn, _ in refs(ast.parse(p.read_text()), {"quantize_half_away"})
    )
    assert quantizers == ["operators/focal.py:_quantized_tiles"], quantizers


def test_gridspec_from_tiles_roundtrip(spark):
    """GridSpec recovered from tile-table metadata equals the explicit
    fixture grid, for both the 10 m city rasters and the 5 m surface."""
    from greenex_py_spark.data import city_fixture as fx
    from greenex_py_spark.data import driver_city as city
    from greenex_py_spark.geo.grid import GridSpec

    got = GridSpec.from_tiles(city.tiles_df(spark, "ndvi"))
    assert got == city.grid()
    got2 = GridSpec.from_tiles(fx.surface_tiles_df(spark, "dsm"))
    assert got2 == fx.surface_grid()


def test_gridspec_from_tiles_narrow_raster(spark):
    """A raster narrower than one tile in x but multiple tiles tall must
    still recover the true tile pitch (from h) — regression for the
    max(w)-only derivation."""
    import pandas as pd

    from greenex_py_spark.geo.grid import GridSpec

    rows = []
    for ty in range(3):
        h = 256 if ty < 2 else 88  # clipped last row
        rows.append(dict(layer="v", tx=0, ty=ty, x0=1000.0,
                         y0=2000.0 + ty * 256 * 2.0, res=2.0, w=100, h=h,
                         px=[0.0]))
    tiles = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="layer string, tx int, ty int, x0 double, y0 double, "
               "res double, w int, h int, px array<double>",
    )
    g = GridSpec.from_tiles(tiles)
    assert g.tile_px == 256
    assert g.npx_x == 100 and g.npx_y == 600
    assert g.origin_x == 1000.0 and g.origin_y == 2000.0


def test_lm_logprob_dim_join_not_hint_broadcast(spark):
    """Scale invariant (VERDICT r02 #1): the unigram/bigram LM dim joins
    must carry NO broadcast hint — the vocabulary grows with corpus size,
    so the hint would OOM executors at 100 TB.  With size-based
    auto-broadcast disabled, a hinted plan would still broadcast; an
    unhinted plan falls back to a shuffle join.  Assert no broadcast
    join survives (the 1-row grand-total crossJoin in unigram is the
    allowed exception: BroadcastNestedLoopJoin of a scalar agg).
    Results must be identical either way."""
    from greenex_py_spark.functions.text import bigram_logprob, unigram_logprob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    baseline = {
        "uni": unigram_logprob(docs).toPandas().set_index("doc_id"),
        "bi": bigram_logprob(docs).toPandas().set_index("doc_id"),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, fn in (("uni", unigram_logprob), ("bi", bigram_logprob)):
            df = fn(docs)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, (name, plan)
            if name == "bi":
                assert "BroadcastNestedLoop" not in plan, plan
            got = df.toPandas().set_index("doc_id")
            pd.testing.assert_frame_equal(
                got.sort_index(), baseline[name].sort_index(), check_dtype=False
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_html_extract_drops_script_and_style_bodies(spark):
    """The extraction contract (VERDICT r02 #6): <script>/<style> element
    BODIES are removed (not just the tags), including scripts containing
    bare `<` and quoted '</div>'; block removal must not glue adjacent
    words; plain tags still strip; whitespace collapses."""
    from greenex_py_spark.functions.text import html_extract_text

    pages = spark.createDataFrame(
        [
            (1, "<p>hello</p><script>if (1 < 2) { x = \"</div>\" }</script><p>world</p>"),
            (2, "a<style media=\"x\">p { color: red }</style>b"),
            (3, "<SCRIPT type='t'>nested \n lines</SCRIPT \n> ok <b>bold</b>\t end"),
            (4, "no markup at all"),
        ],
        schema="doc_id long, raw string",
    ).select("doc_id", F.encode("raw", "UTF-8").alias("html"))
    got = {r["doc_id"]: r["extracted"]
           for r in html_extract_text(pages).select("doc_id", "extracted").collect()}
    assert got[1] == "hello world"
    assert got[2] == "a b"
    assert got[3] == "ok bold end"
    assert got[4] == "no markup at all"


def test_html_extract_comments_and_entities(spark):
    """Comment BODIES are removed even when they hold tags; the common
    entities decode AFTER the tag strip (&lt;b&gt; stays literal text,
    never markup), and &amp; decodes last so &amp;lt; yields the
    literal five characters '&lt;'."""
    from greenex_py_spark.functions.text import html_extract_text

    pages = spark.createDataFrame(
        [
            (1, "x <!-- ad: <div class=\"b\">buy</div> --> y"),
            (2, "Tom &amp; Jerry&nbsp;&nbsp;say &quot;hi&#39;s&quot;"),
            (3, "escaped markup: &lt;b&gt;not bold&lt;/b&gt;"),
            (4, "doubly escaped: &amp;lt;"),
            (5, "<!-- multi\nline\ncomment -->only"),
        ],
        schema="doc_id long, raw string",
    ).select("doc_id", F.encode("raw", "UTF-8").alias("html"))
    got = {r["doc_id"]: r["extracted"]
           for r in html_extract_text(pages).select("doc_id", "extracted").collect()}
    assert got[1] == "x y"
    assert got[2] == 'Tom & Jerry say "hi\'s"'
    assert got[3] == "escaped markup: <b>not bold</b>"
    assert got[4] == "doubly escaped: &lt;"
    assert got[5] == "only"
