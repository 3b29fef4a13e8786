"""Pin hash oracles for the gate queries that have no closed-form SQL
twin (r01 verdict item 1): q_stream_ingest, q_multimodal_gvi,
q_lsh_ann, q_viewshed_gvi, q_viewshed_fixed (r03 verdict item 7).

For each query this script computes the expected output with an
INDEPENDENT implementation (pure-Python XXH64 + arithmetic mirrors /
the reference loop-transliteration raster kernel — not the engine's
distributed path), cross-checks it against the engine at every SF, and
emits ``greenex_py_spark/data/pinned_oracles.py``: DuckDB SQL whose
VALUES literals are keyed by a content marker computed from the
registered views, so the same SQL string is correct at sf0.001 / 0.01 /
0.1 (the tri-scale sweep) and fails loudly (0 rows) on any other input.

Run:  python scripts/pin_oracles.py          (~2-4 min, mostly viewshed)
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.check_queries import norm_frame  # noqa: E402
from scripts.xxh64_ref import xxh64_signed  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]


def rnd(x: float, dp: int) -> float:
    """Spark/DuckDB round: HALF_UP on the shortest decimal repr (matches
    BigDecimal.valueOf(double) semantics, not banker's rounding)."""
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def lit(v) -> str:
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return repr(float(v))


def values_sql(cols: list[tuple[str, str | None]], rows: list[tuple], marker_sql: str) -> str:
    """VALUES-literal oracle filtered by a content marker subquery.

    ``cols`` = [(name, cast_type|None), ...]; output columns are cast so
    the DuckDB frame dtypes match Spark's toPandas (BIGINT→int64,
    DOUBLE→float64) — VALUES integer literals would otherwise be int32.
    """
    names = [c[0] for c in cols]
    body = ",\n  ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    sel = ", ".join(
        f"CAST({n} AS {t}) AS {n}" if t else n for n, t in cols[1:]
    )
    return (
        f"WITH expected({', '.join(names)}) AS (VALUES\n  {body}\n)\n"
        f"SELECT {sel} FROM expected WHERE {names[0]} = ({marker_sql})"
    )


DOC_MARKER = "SELECT count(*) + sum(n_chars) FROM documents"
EMB_MARKER = (
    "SELECT count(*) + sum(CAST(floor(abs(CAST(embedding[1] AS DOUBLE)) * 1000000) AS BIGINT)) "
    "FROM embeddings"
)


def doc_marker(docs: pd.DataFrame) -> int:
    return int(len(docs) + docs["n_chars"].sum())


def emb_marker(emb: pd.DataFrame) -> int:
    return int(len(emb) + sum(int(math.floor(abs(float(v[0])) * 1000000)) for v in emb["embedding"]))


# ---------------------------------------------------------------------------
# q_stream_ingest — independent XXH64 geocode of the 400-row synth batch
# ---------------------------------------------------------------------------

X0, Y0 = 100000.0, 450000.0
EXTENT, CORE_EXTENT = 10000.0, 1000.0
CORE_X0, CORE_Y0 = 104500.0, 454500.0
CELL = 100.0
BASE = 1 << 20
M64 = (1 << 64) - 1


def geocode_mirror(url: str) -> tuple[float, float, int]:
    h = xxh64_signed(url.encode("utf-8"))
    hu = h & M64
    fx = (h % 1000000 if h >= 0 else (h % 1000000 + 1000000) % 1000000) / 1e6
    fy = ((hu >> 20) % 1000000) / 1e6
    in_core = ((hu >> 45) % 10) < 6
    x = CORE_X0 + fx * CORE_EXTENT if in_core else X0 + fx * EXTENT
    y = CORE_Y0 + fy * CORE_EXTENT if in_core else Y0 + fy * EXTENT
    gx = int(math.floor((x - X0) / CELL))
    gy = int(math.floor((y - Y0) / CELL))
    return x, y, gy * BASE + gx


def expected_stream_ingest() -> pd.DataFrame:
    # input generator is shared infrastructure (data/synth LCG); the
    # geocode under test is mirrored independently above
    from greenex_py_spark.data.synth import documents_batch

    pdf = documents_batch(np.arange(400, dtype=np.uint64))
    rows = []
    for url in pdf["url"]:
        x, y, cell = geocode_mirror(str(url))
        rows.append((str(url), x, y, cell))
    return pd.DataFrame(rows, columns=["url", "x", "y", "cell"])


# ---------------------------------------------------------------------------
# q_multimodal_gvi — mirror of the deterministic fake decode + seg stub
# ---------------------------------------------------------------------------


def fake_gvi_mirror(buf: bytes) -> float:
    d = hashlib.sha256(buf).digest()
    h = 16 + d[0] % 48
    w = 16 + d[1] % 48
    seed = np.frombuffer(d, dtype=np.uint8).astype(np.uint32)
    n = h * w * 3
    stream = np.resize(np.cumsum(seed * np.uint32(2654435761) % np.uint32(255)).astype(np.uint8), n)
    arr = stream.reshape(-1, 3)
    green = (arr[:, 1] > arr[:, 0]) & (arr[:, 1] > arr[:, 2])
    return round(float(green.mean()), 3)  # engine uses Python round here


def expected_multimodal(docs: pd.DataFrame) -> pd.DataFrame:
    g = pd.DataFrame(
        {
            "lang": docs["lang"],
            "GVI": [fake_gvi_mirror(t.encode("utf-8")) for t in docs["text"]],
        }
    )
    out = (
        g.groupby("lang")
        .agg(mean_gvi=("GVI", "mean"), n_media=("GVI", "size"))
        .reset_index()
    )
    out["mean_gvi"] = out["mean_gvi"].map(lambda v: rnd(v, 6))
    out["n_media"] = out["n_media"].astype(np.int64)
    return out[["lang", "mean_gvi", "n_media"]]


# ---------------------------------------------------------------------------
# q_lsh_ann — mirror of sign-LSH bucketing + sequential-fold cosine
# ---------------------------------------------------------------------------


def lsh_buckets_mirror(vecs: np.ndarray, n_bits: int = 8) -> np.ndarray:
    b = np.arange(n_bits, dtype=np.int64)[:, None]
    i = np.arange(vecs.shape[1], dtype=np.int64)[None, :]
    z = (b * 1315423911 + i * 2654435761 + 97531) % 1000003
    h = (z / 1000003.0) * 2.0 - 1.0
    bits = (vecs @ h.T) > 0
    pw = (1 << np.arange(n_bits)).astype(np.int64)
    return (bits * pw).sum(axis=1)


def seq_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Left-fold accumulation — matches Spark's aggregate(zip_with(...))."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def seq_norm(a: np.ndarray) -> float:
    acc = 0.0
    for x in a:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def expected_lsh_ann(emb: pd.DataFrame, k: int = 10) -> pd.DataFrame:
    ids = emb["vec_id"].to_numpy(np.int64)
    vecs = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    buckets = lsh_buckets_mirror(vecs)
    norms = np.array([seq_norm(v) for v in vecs])
    qmask = ids < 10
    rows = []
    for qi in np.nonzero(qmask)[0]:
        cand = np.nonzero((buckets == buckets[qi]) & (ids != ids[qi]))[0]
        scored = []
        for ci in cand:
            sim = rnd(seq_dot(vecs[qi], vecs[ci]) / (norms[qi] * norms[ci]), 6)
            scored.append((sim, int(ids[ci])))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (sim, nid) in enumerate(scored[:k], start=1):
            rows.append((int(ids[qi]), nid, sim, rank))
    return pd.DataFrame(rows, columns=["q_id", "n_id", "sim", "rank"])


# ---------------------------------------------------------------------------
# q_viewshed_gvi — sampling mirror + full-raster reference kernel
# ---------------------------------------------------------------------------


def city_points(doc_ids: np.ndarray) -> pd.DataFrame:
    did = doc_ids.astype(np.int64)
    in_core = (did % 10) < 6
    fx = ((did * 48271) % 1000000) / 1000000.0
    fy = ((did * 16807 + 12345) % 1000000) / 1000000.0
    x = np.where(in_core, CORE_X0 + fx * CORE_EXTENT, X0 + fx * EXTENT)
    y = np.where(in_core, CORE_Y0 + fy * CORE_EXTENT, Y0 + fy * EXTENT)
    return pd.DataFrame({"id": did, "x": x, "y": y})


def expected_viewshed(docs: pd.DataFrame, replicate_bug: bool = True) -> pd.DataFrame:
    from greenex_py_spark.data import city_fixture as fx
    from greenex_py_spark.geo import raster

    pois = city_points(docs.loc[docs["doc_id"] % 10 == 0, "doc_id"].to_numpy())
    nodes, edges = fx.network_pdfs()
    # directed edges, endpoint coords
    npos = nodes.set_index("node_id")
    ax = npos.loc[edges["src"], "x"].to_numpy()
    ay = npos.loc[edges["src"], "y"].to_numpy()
    bx = npos.loc[edges["dst"], "x"].to_numpy()
    by = npos.loc[edges["dst"], "y"].to_numpy()
    lengths = np.hypot(bx - ax, by - ay)
    assert (lengths >= 50.0).all()  # linspace scheme only on this lattice

    dsm = fx.full_raster("dsm")
    dtm = fx.full_raster("dtm")
    green = fx.full_raster("green")
    res = fx.DSM_RES
    npx = fx.DSM_NPX
    R = int(250.0 // res)
    cache: dict[tuple[int, int], float | None] = {}

    def gvi_at(x: float, y: float) -> float | None:
        ix = int((x - X0) // res)
        iy = int((y - Y0) // res)
        key = (ix, iy)
        if key in cache:
            return cache[key]
        if ix - R < 0 or iy - R < 0 or ix + R + 1 > npx or iy + R + 1 > npx:
            v = None
        else:
            sl = (slice(iy - R, iy + R + 1), slice(ix - R, ix + R + 1))
            # kernel pinned bit-identical to the reference loop
            # transliteration by tests/test_visibility.py
            v = float(raster.gvi_at_point(
                dsm[sl], dtm[sl], green[sl], R, res, 1.7,
                replicate_bug=replicate_bug,
            ))
            if math.isnan(v):
                v = None
        cache[key] = v
        return v

    out = []
    dx, dy = bx - ax, by - ay
    l2 = dx * dx + dy * dy
    for p in pois.itertuples(index=False):
        t = np.clip(((p.x - ax) * dx + (p.y - ay) * dy) / np.where(l2 == 0, 1.0, l2), 0.0, 1.0)
        px = ax + t * dx
        py = ay + t * dy
        hit = (px - p.x) ** 2 + (py - p.y) ** 2 <= 100.0 ** 2
        gvis = []
        for ei in np.nonzero(hit)[0]:
            num = int(lengths[ei] / 50.0) + 1  # G6 linspace scheme
            for s in np.linspace(0.0, lengths[ei], num):
                sx = ax[ei] + (s / lengths[ei]) * dx[ei]
                sy = ay[ei] + (s / lengths[ei]) * dy[ei]
                gvis.append(gvi_at(sx, sy))
        if not gvis:
            continue
        if any(v is None for v in gvis):
            out.append((int(p.id), None, len(gvis)))
        else:
            out.append((int(p.id), rnd(float(np.mean(gvis)), 3), len(gvis)))
    return pd.DataFrame(out, columns=["id", "GVI", "nr_of_points"])


# ---------------------------------------------------------------------------
# engine cross-check + emit
# ---------------------------------------------------------------------------


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("pin-oracles")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import greenex_py_spark.driver_queries as dq

    expected: dict[str, list[tuple[int, pd.DataFrame]]] = {
        "q_multimodal_gvi": [],
        "q_lsh_ann": [],
        "q_viewshed_gvi": [],
        "q_viewshed_fixed": [],
    }
    si = expected_stream_ingest()
    got = dq.QUERIES["q_stream_ingest"](spark, f"/root/testdata/sf0.01").toPandas()
    assert norm_frame(si).equals(norm_frame(got)), "stream_ingest mismatch"
    print("q_stream_ingest pinned (400 rows, SF-independent)")

    viewshed_cache: dict[str, pd.DataFrame] = {}
    for sf in SFS:
        sfdir = f"/root/testdata/sf{sf}"
        docs = pd.read_parquet(f"{sfdir}/documents.parquet")
        emb = pd.read_parquet(f"{sfdir}/embeddings.parquet")
        dmark, emark = doc_marker(docs), emb_marker(emb)

        mm = expected_multimodal(docs)
        got = dq.QUERIES["q_multimodal_gvi"](spark, sfdir).toPandas()
        assert norm_frame(mm).equals(norm_frame(got)), f"multimodal mismatch sf{sf}"
        expected["q_multimodal_gvi"].append((dmark, mm))

        la = expected_lsh_ann(emb)
        got = dq.QUERIES["q_lsh_ann"](spark, sfdir).toPandas()
        assert norm_frame(la).equals(norm_frame(got)), f"lsh_ann mismatch sf{sf}"
        expected["q_lsh_ann"].append((emark, la))

        vkey = f"{len(docs)}"  # viewshed depends only on doc_id range
        if vkey not in viewshed_cache:
            viewshed_cache[vkey] = expected_viewshed(docs)
        vs = viewshed_cache[vkey]
        got = dq.QUERIES["q_viewshed_gvi"](spark, sfdir).toPandas()
        assert norm_frame(vs).equals(norm_frame(got)), f"viewshed mismatch sf{sf}"
        expected["q_viewshed_gvi"].append((dmark, vs))

        fkey = f"fixed-{len(docs)}"
        if fkey not in viewshed_cache:
            viewshed_cache[fkey] = expected_viewshed(docs, replicate_bug=False)
        vf = viewshed_cache[fkey]
        got = dq.QUERIES["q_viewshed_fixed"](spark, sfdir).toPandas()
        assert norm_frame(vf).equals(norm_frame(got)), f"viewshed-fixed mismatch sf{sf}"
        expected["q_viewshed_fixed"].append((dmark, vf))
        print(f"sf{sf}: multimodal {len(mm)}, lsh_ann {len(la)}, "
              f"viewshed {len(vs)}+{len(vf)} rows ok")

    def tagged_rows(pairs):
        rows = []
        for mark, df in pairs:
            for r in df.itertuples(index=False):
                rows.append((mark, *r))
        return rows

    sqls = {
        "q_stream_ingest": values_sql(
            [("tag", None), ("url", None), ("x", "DOUBLE"), ("y", "DOUBLE"),
             ("cell", "BIGINT")],
            [(1, *r) for r in si.itertuples(index=False)],
            "SELECT 1",
        ),
        "q_multimodal_gvi": values_sql(
            [("tag", None), ("lang", None), ("mean_gvi", "DOUBLE"),
             ("n_media", "BIGINT")],
            tagged_rows(expected["q_multimodal_gvi"]),
            DOC_MARKER,
        ),
        "q_lsh_ann": values_sql(
            [("tag", None), ("q_id", "BIGINT"), ("n_id", "BIGINT"),
             ("sim", "DOUBLE"), ("rank", "BIGINT")],
            tagged_rows(expected["q_lsh_ann"]),
            EMB_MARKER,
        ),
        "q_viewshed_gvi": values_sql(
            [("tag", None), ("id", "BIGINT"), ("GVI", "DOUBLE"),
             ("nr_of_points", "BIGINT")],
            tagged_rows(expected["q_viewshed_gvi"]),
            DOC_MARKER,
        ),
        "q_viewshed_fixed": values_sql(
            [("tag", None), ("id", "BIGINT"), ("GVI", "DOUBLE"),
             ("nr_of_points", "BIGINT")],
            tagged_rows(expected["q_viewshed_fixed"]),
            DOC_MARKER,
        ),
    }
    out = [
        '"""GENERATED by scripts/pin_oracles.py — do not edit by hand.',
        "",
        "Pinned DuckDB oracles for the gate queries with no closed-form SQL",
        "twin.  Expected rows were computed by INDEPENDENT mirrors (pure-",
        "Python XXH64, arithmetic geocode mirror, fake-decode mirror,",
        "sequential-fold cosine, reference-transliteration raster kernel)",
        "and cross-checked against the engine at sf0.001/0.01/0.1 at pin",
        "time.  Each VALUES block is keyed by a content marker computed",
        "from the registered views, so the same SQL string selects the",
        'right expectation at every SF and returns 0 rows on foreign data."""',
        "",
        "SQLS = {",
    ]
    for name, sql in sqls.items():
        out.append(f"    {name!r}: '''{sql}''',")
    out.append("}")
    path = f"{REPO}/greenex_py_spark/data/pinned_oracles.py"
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote", path)


if __name__ == "__main__":
    main()
