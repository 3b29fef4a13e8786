"""Street-network operators (SURVEY.md §2.7: N1-N4, J4, J7).

Re-expresses the reference's per-row OSMnx/networkx calls as a hybrid:
the *graph kernel* (distance-bounded Dijkstra = ``nx.ego_graph`` +
``nx.shortest_path``, accessibility.py:237-256) runs inside Arrow
``applyInPandas`` per PoI over a **broadcast CSR** of the bbox-pruned
network, and everything around it — node snapping, entrance detection,
distance composition, clamping — is relational/codegen so Catalyst owns
it.

Scale note: a city-scale street graph after bbox pruning is a few MB of
CSR arrays — broadcast is the right call (the reference fetches exactly
this scope from OSM per run).  At planet scale the design swaps the
broadcast for cell-partitioned CSR fragments cogrouped with PoIs by
cell; the kernel is unchanged.

Semantics parity (accessibility.py:226-322):
- snap = nearest node (euclidean, J4); ``penalty_home`` = that distance;
- subgraph = nodes within ``target_dist*1.5`` network distance (N1);
- entrances = subgraph nodes with distance-to-polygon-*boundary* < 20 m
  (J7 — inside-the-polygon nodes far from the ring do NOT count);
- centroids destination adds ``euclid(entrance, centroid)`` (N3);
- min over (greenspace, entrance), rounded **after** the min, then the
  §2.9 outcome/clamp contract.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.memo import memo
from ..geo.kernels import points_in_polygon

# ---------------------------------------------------------------------------
# snapping (J4)
# ---------------------------------------------------------------------------


def nearest_node(
    points: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_snap_dist: float = 300.0,
) -> DataFrame:
    """[id, x, y, node_id, penalty_home] — 1-NN snap, tie-break node_id.

    Cell-prefiltered (J3 machinery): node rows replicate to the cells a
    ``max_snap_dist`` disk can reach (bounded cover explode, broadcast),
    the probe equi-joins on its cell, and the per-point window ranks the
    few local candidates — not a points×nodes cross join.

    Points with no node inside ``max_snap_dist`` (ocean/desert tiles)
    retry with a **k-ring** on the *probe* side: the missed point
    explodes to every cell within 16× the snap bound and equi-joins the
    nodes' home cells.  A candidate found at distance ≤ R is provably
    the true 1-NN (any closer node would lie inside the searched ring),
    so the retry is exact, never approximate.  Only points that survive
    the ring — vanishingly rare on any layer with a finite node bbox —
    hit the final full scan, so the operator stays total (same contract
    as ox.distance.nearest_nodes) without the old unbounded
    points×all-nodes cross join.  One retry tier, not a cascade: each
    tier costs an anti-join that re-evaluates the snap subtree, which
    showed up as +2.5 s on every network gate query when this was a
    4×-then-16× cascade (the 16× ring is a superset of the 4× one, so
    collapsing tiers changes nothing semantically).

    The node table is sized with the same bounded probe as the
    Dijkstra dispatcher, and the probe always decides: a city-scale
    layer broadcasts its cover table (zero shuffle on the probe side),
    a continental one (> ``DRIVER_MAX_EDGES`` rows) switches the cell
    joins to plain shuffle equi-joins (measured 38 s → the shuffle path
    on the 1.5M-node demo lattice).  Rows identical either way (1-NN
    under the same total order).

    The primary snap tier is persisted lazily and owned by the session
    memo (``engine.memo``), one entry per (PoI batch, node table): a
    repeated snap of the same batch reads it, and the memo's LRU bound
    unpersists the oldest tier, as ``spark.catalog.clearCache()`` does
    all of them.
    """
    from ..geo.cells import _BASE
    from .spatial_join import bbox_cover_cells, with_point_cell

    broadcast_nodes = _graph_fits_driver(nodes, DRIVER_MAX_EDGES)
    n_src = nodes.select("node_id", F.col("x").alias("nx"), F.col("y").alias("ny"))
    cover = bbox_cover_cells(
        n_src, pad=max_snap_dist, minx="nx", miny="ny", maxx="nx", maxy="ny"
    )
    pts = with_point_cell(points.select(id_col, "x", "y"))
    ddx = F.col("nx") - F.col("x")
    ddy = F.col("ny") - F.col("y")
    d = F.sqrt(ddx * ddx + ddy * ddy)
    w = Window.partitionBy(id_col).orderBy(F.col("penalty_home").asc(), F.col("node_id").asc())
    cov = F.broadcast(cover) if broadcast_nodes else cover
    primary = (
        pts.join(cov, "cell")
        .withColumn("penalty_home", d)
        .filter(F.col("penalty_home") <= max_snap_dist)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "nx", "ny", "cell")
        # point-sized output, consumed by BOTH retry anti-joins and the
        # final union — without reuse the cover join + window evaluate
        # three times per action on every network query (VERDICT r04 #5;
        # measured ~3× the tier cost at sf0.1).  LAZY persist, not
        # localCheckpoint: no extra eager job on the broadcast path,
        # and the first evaluation fills the cache the anti-join
        # branches then read.
    )
    snapped = memo(f"snap_tier:{id_col}:{max_snap_dist}", [points, nodes], primary.persist)
    from .spatial_join import CELL_SIZE

    n_home = with_point_cell(n_src, x="nx", y="ny", out="ncell")
    if broadcast_nodes:
        n_home = F.broadcast(n_home)
    missed = pts.join(snapped.select(id_col), id_col, "left_anti")
    radius = max_snap_dist * 16.0
    span = int(np.ceil(radius / CELL_SIZE)) + 1
    ring = (
        missed.withColumn("_dy", F.explode(F.sequence(F.lit(-span), F.lit(span))))
        .withColumn("_dx", F.explode(F.sequence(F.lit(-span), F.lit(span))))
        .withColumn("ncell", F.col("cell") + F.col("_dy") * _BASE + F.col("_dx"))
        .join(n_home, "ncell")
        .withColumn("penalty_home", d)
        .filter(F.col("penalty_home") <= radius)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "x", "y", "node_id", "penalty_home")
    )
    missed2 = missed.join(ring.select(id_col), id_col, "left_anti")
    fallback = (
        missed2.join(F.broadcast(n_src))
        .withColumn("penalty_home", d)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "nx", "ny", "cell")
    )
    return snapped.unionByName(ring).unionByName(fallback)


# ---------------------------------------------------------------------------
# distance-bounded Dijkstra (N1/N2) — applyInPandas over broadcast CSR
# ---------------------------------------------------------------------------


def _node_index(ids: np.ndarray, node_ids: np.ndarray) -> np.ndarray:
    """Position of each of ``node_ids`` in the sorted ``ids``, -1 where
    absent."""
    if not len(ids):
        return np.full(len(node_ids), -1)
    pos = np.minimum(np.searchsorted(ids, node_ids), len(ids) - 1)
    return np.where(ids[pos] == node_ids, pos, -1)


def _build_csr(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame):
    """(ids, indptr, dst, w): flat arrays only, so each Python worker
    unpickles a few buffers, not a node-id dict.  Node ``i`` is
    ``ids[i]`` with ``ids`` sorted; an edge end missing from the node
    table raises."""
    ids = np.unique(nodes_pdf["node_id"].to_numpy(np.int64))
    src = _node_index(ids, edges_pdf["src"].to_numpy(np.int64))
    dst = _node_index(ids, edges_pdf["dst"].to_numpy(np.int64))
    if (src < 0).any() or (dst < 0).any():
        raise ValueError("edge table names node ids that the node table lacks")
    w = edges_pdf["length"].to_numpy(np.float64)
    order = np.argsort(src, kind="stable")
    src, dst, w = src[order], dst[order], w[order]
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.add.at(indptr, src + 1, 1)
    np.cumsum(indptr, out=indptr)
    return ids, indptr, dst, w


def _dijkstra_bounded(indptr, dst, w, start: int, radius: float) -> dict[int, float]:
    dist = {start: 0.0}
    pq = [(0.0, start)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, np.inf):
            continue
        for e in range(indptr[u], indptr[u + 1]):
            v = dst[e]
            nd = d + w[e]
            if nd <= radius and nd < dist.get(v, np.inf):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def bounded_network_distances(
    snapped: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    radius: float,
    id_col: str = "id",
) -> DataFrame:
    """[id, node_id, net_dist, penalty_home] — network distance from
    each PoI's snap node to every node within ``radius`` (the ego-graph
    set).  ``penalty_home`` (the snap distance) rides through the kernel
    so consumers never join back to ``snapped`` — that second
    consumption re-evaluated the whole snap subtree (cover join + window
    + fallback anti-joins) and measurably slowed every network query.

    The CSR is collected, built and broadcast once per (node, edge)
    table pair and session: the Broadcast itself is memoised
    (``engine.memo``), so a repeated call ships nothing new."""
    sc = snapped.sparkSession.sparkContext

    def build():
        nodes_pdf = nodes.select("node_id").toPandas()
        edges_pdf = edges.select("src", "dst", "length").toPandas()
        return sc.broadcast(_build_csr(nodes_pdf, edges_pdf))

    bc = memo("csr_broadcast", [nodes, edges], build)

    def kernel(pdf_iter):
        ids_b, indptr_b, dst_b, w_b = bc.value
        for pdf in pdf_iter:
            rows = []
            starts = _node_index(ids_b, pdf["node_id"].to_numpy(np.int64))
            for r, start in zip(pdf.itertuples(index=False), starts):
                if start < 0:
                    continue
                dd = _dijkstra_bounded(indptr_b, dst_b, w_b, int(start), radius)
                rid = getattr(r, id_col)
                pen = float(r.penalty_home)
                rows.extend((rid, int(ids_b[v]), d, pen) for v, d in dd.items())
            yield (
                pd.DataFrame(rows, columns=[id_col, "node_id", "net_dist", "penalty_home"])
                if rows
                else pd.DataFrame(
                    {id_col: [], "node_id": [], "net_dist": [], "penalty_home": []}
                )
            )

    return snapped.select(id_col, "node_id", "penalty_home").mapInPandas(
        kernel, schema=f"{id_col} long, node_id long, net_dist double, penalty_home double"
    )


# Above this many edge rows the graph no longer belongs on the driver:
# 2M edges ≈ 2M×(8B dst + 8B weight) + indptr ≈ 50 MB of CSR arrays —
# comfortably broadcastable; 10× that (continental OSM is ~10⁸ edges)
# is a driver OOM, so larger graphs route to the cell-partitioned path.
DRIVER_MAX_EDGES = 2_000_000


def _graph_fits_driver(edges: DataFrame, threshold: int) -> bool:
    """Bounded-cost size probe: ``limit(threshold+1).count()`` scans
    until it has seen threshold+1 rows and stops (CollectLimit), so the
    decision never pays a full count of a 100 TB edge table — the
    dissolve-threshold lesson (VERDICT r03) applied here.  The probe
    runs once per table and session (``engine.memo``): a LIMIT compiles
    new code on every run, so a per-call probe would recompile each
    call."""
    return memo(
        f"fits_driver:{threshold}", [edges],
        lambda: edges.limit(threshold + 1).count() <= threshold,
    )


def bounded_network_distances_auto(
    snapped: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    radius: float,
    id_col: str = "id",
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Adaptive dispatcher (VERDICT r03 #1): graphs that fit the driver
    take the broadcast-CSR path (one Arrow stage, no shuffle of the
    graph); anything larger routes to
    :func:`bounded_network_distances_partitioned` — the no-driver-collect
    3×3-halo cogroup path — so ``isochrone_edges`` / the api network
    family never OOM the driver on a continental network.  Both paths
    are row-identical (tests/test_operators.py)."""
    threshold = DRIVER_MAX_EDGES if driver_max_edges is None else int(driver_max_edges)
    if _graph_fits_driver(edges, threshold):
        return bounded_network_distances(snapped, nodes, edges, radius, id_col)
    return bounded_network_distances_partitioned(snapped, nodes, edges, radius, id_col)


def bounded_network_distances_partitioned(
    snapped: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    radius: float,
    id_col: str = "id",
    region: float | None = None,
) -> DataFrame:
    """[id, node_id, net_dist, penalty_home] — same contract as
    :func:`bounded_network_distances`, WITHOUT broadcasting the graph:
    the 100 TB path (SURVEY §2.7 N1: "cell-partitioned CSR fragments
    joined to PoIs by cell").

    Network distance ≥ euclidean distance, so a ``radius``-bounded
    Dijkstra from a snap node inside region cell C can only touch edges
    whose bbox lies within ``radius`` of C.  Edges therefore replicate
    to the ≤3×3 region cells (region size = radius) they can serve —
    bounded blow-up, exactly the halo-exchange shape the viewshed uses —
    and each cogroup builds its own local CSR.  No driver collect, no
    broadcast, works when the road network itself is sharded.

    Row-identical to the broadcast path
    (tests/test_operators.test_partitioned_dijkstra_equals_broadcast).
    """
    from ..geo.cells import ORIGIN_X, ORIGIN_Y, _BASE

    region = float(region if region is not None else radius)

    npos = nodes.select("node_id", "x", "y")
    # one tiny row per PoI, consumed twice (cogroup left side + the
    # empty-region prune's broadcast build) — localCheckpoint so the
    # snap subtree is never re-evaluated (the join-back lesson)
    sn = (
        snapped.select(id_col, "node_id", "penalty_home")
        .join(npos, "node_id")
        .withColumn(
            "rcell",
            F.floor((F.col("y") - ORIGIN_Y) / region).cast("long") * _BASE
            + F.floor((F.col("x") - ORIGIN_X) / region).cast("long"),
        )
        .select(id_col, "node_id", "penalty_home", "rcell")
        .localCheckpoint()
    )
    e = (
        edges.select("src", "dst", "length")
        .join(npos.withColumnsRenamed({"node_id": "src", "x": "ax", "y": "ay"}), "src")
        .join(npos.withColumnsRenamed({"node_id": "dst", "x": "bx", "y": "by"}), "dst")
    )
    gx0 = F.floor((F.least("ax", "bx") - radius - ORIGIN_X) / region).cast("long")
    gx1 = F.floor((F.greatest("ax", "bx") + radius - ORIGIN_X) / region).cast("long")
    gy0 = F.floor((F.least("ay", "by") - radius - ORIGIN_Y) / region).cast("long")
    gy1 = F.floor((F.greatest("ay", "by") + radius - ORIGIN_Y) / region).cast("long")
    frag = (
        e.withColumn("_gy", F.explode(F.sequence(gy0, gy1)))
        .withColumn("_gx", F.explode(F.sequence(gx0, gx1)))
        .withColumn("rcell", F.col("_gy") * _BASE + F.col("_gx"))
        .select("rcell", "src", "dst", "length")
    )
    # prune fragments to region cells that actually hold snapped PoIs:
    # a continental lattice has ~10^5-10^6 region cells but a PoI batch
    # touches only |PoIs| of them — without this, every empty cell
    # still pays its fragment shuffle + Arrow transfer (measured 6.7×
    # on the 1.5M-node demo, scripts/network_scale_demo.py).  The
    # semi-join build side is one row per OCCUPIED cell (≤ |PoIs|,
    # snap-output-sized — driver-safe to broadcast at any graph size);
    # pruned cells' kernels returned empty frames anyway, so rows are
    # identical (the broadcast-equality test covers a pruned layout).
    frag = frag.join(
        F.broadcast(sn.select("rcell").distinct()), "rcell", "leftsemi"
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = [id_col, "node_id", "net_dist", "penalty_home"]
        if len(left) == 0:
            return pd.DataFrame({c: [] for c in cols})
        starts = left["node_id"].to_numpy(np.int64)
        # local node universe: fragment endpoints + the snap nodes (a
        # snap node with no in-radius edges still emits its 0-row, same
        # as the broadcast path)
        uniq = np.unique(
            np.concatenate(
                [right["src"].to_numpy(np.int64), right["dst"].to_numpy(np.int64), starts]
            )
            if len(right)
            else starts
        )
        idx = {int(v): i for i, v in enumerate(uniq)}
        if len(right):
            src = right["src"].map(idx).to_numpy(np.int64)
            dstv = right["dst"].map(idx).to_numpy(np.int64)
            wv = right["length"].to_numpy(np.float64)
            order = np.argsort(src, kind="stable")
            src, dstv, wv = src[order], dstv[order], wv[order]
            indptr = np.zeros(len(uniq) + 1, dtype=np.int64)
            np.add.at(indptr, src + 1, 1)
            np.cumsum(indptr, out=indptr)
        else:
            indptr = np.zeros(len(uniq) + 1, dtype=np.int64)
            dstv = np.zeros(0, dtype=np.int64)
            wv = np.zeros(0, dtype=np.float64)
        rows = []
        pens = left["penalty_home"].to_numpy(np.float64)
        for rid, node, pen in zip(left[id_col].to_numpy(np.int64), starts, pens):
            dd = _dijkstra_bounded(indptr, dstv, wv, idx[int(node)], radius)
            rows.extend((int(rid), int(uniq[v]), d, float(pen)) for v, d in dd.items())
        return (
            pd.DataFrame(rows, columns=cols)
            if rows
            else pd.DataFrame({c: [] for c in cols})
        )

    return (
        sn.groupBy("rcell")
        .cogroup(frag.groupBy("rcell"))
        .applyInPandas(
            kernel,
            schema=f"{id_col} long, node_id long, net_dist double, penalty_home double",
        )
    )


# ---------------------------------------------------------------------------
# entrance detection (J7) — codegen rect-boundary distance
# ---------------------------------------------------------------------------


def entrance_nodes_rect(
    nodes: DataFrame, greens: DataFrame, tol: float = 20.0
) -> DataFrame:
    """[gs_id, node_id, ex, ey] — nodes within ``tol`` of a rectangle
    *boundary* (accessibility.py:245: ``distance(geom.boundary) < 20``;
    strict <).  Candidates come from the cell join (greens are the
    cover, ``pad = tol``; nodes probe their home cell), then pure column
    arithmetic:

    outside → distance to rect; inside → distance to nearest edge.
    """
    from .spatial_join import cell_candidates

    n = cell_candidates(
        nodes.select("node_id", "x", "y"),
        greens.select("gs_id", "minx", "miny", "maxx", "maxy"),
        pad=float(tol),
    ).select(
        "node_id", F.col("x").alias("ex"), F.col("y").alias("ey"),
        "gs_id", "minx", "miny", "maxx", "maxy",
    )
    dx = F.greatest(F.lit(0.0), F.col("minx") - F.col("ex"), F.col("ex") - F.col("maxx"))
    dy = F.greatest(F.lit(0.0), F.col("miny") - F.col("ey"), F.col("ey") - F.col("maxy"))
    outside = F.sqrt(dx * dx + dy * dy)
    inside = F.least(
        F.col("ex") - F.col("minx"), F.col("maxx") - F.col("ex"),
        F.col("ey") - F.col("miny"), F.col("maxy") - F.col("ey"),
    )
    bdist = F.when(
        (F.col("ex") >= F.col("minx")) & (F.col("ex") <= F.col("maxx"))
        & (F.col("ey") >= F.col("miny")) & (F.col("ey") <= F.col("maxy")),
        inside,
    ).otherwise(outside)
    return n.filter(bdist < F.lit(tol)).select("gs_id", "node_id", "ex", "ey")


# ---------------------------------------------------------------------------
# full network accessibility composition (N3 + §2.9 clamp)
# ---------------------------------------------------------------------------


def shortest_distance_greenspace_network(
    points: DataFrame,
    greens: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    target_dist: float = 300.0,
    min_area: float = 400.0,
    destination: str = "centroids",
    id_col: str = "id",
    partitioned: bool | None = None,
) -> DataFrame:
    """Network variant of get_shortest_distance_greenspace →
    [id, greenspace_within, distance_to_greenspace].

    ``partitioned=None`` (default) sizes the graph with a bounded probe
    and picks the path adaptively (``DRIVER_MAX_EDGES``);
    ``partitioned=True`` forces the no-broadcast cell-partitioned
    Dijkstra (row-identical; the sharded-network scale path), ``False``
    forces the broadcast CSR.  Candidate greens per PoI come from the
    cell join (``rect_buffer_candidates``), entrances from
    :func:`entrance_nodes_rect`."""
    from .accessibility import _outcome_clamp, rect_buffer_candidates

    g = greens.filter(F.col("area") >= F.lit(min_area))
    snapped = nearest_node(points, nodes, id_col)
    if partitioned is None:
        dist_fn = bounded_network_distances_auto
    elif partitioned:
        dist_fn = bounded_network_distances_partitioned
    else:
        dist_fn = bounded_network_distances
    reach = dist_fn(snapped, nodes, edges, target_dist * 1.5, id_col)
    ent = entrance_nodes_rect(nodes, g, tol=20.0)

    # candidate greens: rect ∩ buffer(target) per PoI (the per-row clip)
    cand = rect_buffer_candidates(
        points.select(id_col, "x", "y"), greens, target_dist, min_area
    ).select(id_col, "gs_id", "cx", "cy")

    paths = (
        # ent scales with the green layer (a dim), not the point table —
        # broadcast it so the big cand side never shuffles on gs_id;
        # penalty_home rides in via reach (no second snapped consumption)
        cand.join(F.broadcast(ent), "gs_id")
        .join(reach, [id_col, "node_id"])  # entrance must be inside the ego set
    )
    dist = F.col("net_dist") + F.col("penalty_home")
    if destination == "centroids":
        cdx = F.col("cx") - F.col("ex")
        cdy = F.col("cy") - F.col("ey")
        dist = dist + F.sqrt(cdx * cdx + cdy * cdy)
    near = paths.select(id_col, dist.alias("d")).groupBy(id_col).agg(
        F.round(F.min("d"), 0).alias("min_dist")
    )
    return _outcome_clamp(points, near, target_dist, id_col)


def shortest_distance_greenspace_entrance_euclid(
    points: DataFrame,
    greens: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    target_dist: float = 300.0,
    min_area: float = 400.0,
    id_col: str = "id",
) -> DataFrame:
    """Euclidean + entrances variant (accessibility.py:287-301):
    kd-tree over entrance-node positions of buffer-clipped greens,
    restricted to the PoI's ego set."""
    from .accessibility import _outcome_clamp, rect_buffer_candidates

    g = greens.filter(F.col("area") >= F.lit(min_area))
    snapped = nearest_node(points, nodes, id_col)
    reach = bounded_network_distances_auto(snapped, nodes, edges, target_dist * 1.5, id_col)
    ent = entrance_nodes_rect(nodes, g, tol=20.0)
    cand = rect_buffer_candidates(
        points.select(id_col, "x", "y"), greens, target_dist, min_area
    ).select(id_col, "x", "y", "gs_id")
    near = (
        cand.join(F.broadcast(ent), "gs_id")  # ent is green-layer-sized (dim)
        .join(reach, [id_col, "node_id"])
        .select(
            id_col,
            (lambda ddx, ddy: F.sqrt(ddx * ddx + ddy * ddy))(F.col("ex") - F.col("x"), F.col("ey") - F.col("y")).alias("d"),
        )
        .groupBy(id_col)
        .agg(F.round(F.min("d"), 0).alias("min_dist"))
    )
    return _outcome_clamp(points, near, target_dist, id_col)


# ---------------------------------------------------------------------------
# isochrones (N4) — ego set → induced edges → capsule AoI
# ---------------------------------------------------------------------------


def isochrone_edges(
    points: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    radius: float,
    id_col: str = "id",
    snapped: DataFrame | None = None,
) -> DataFrame:
    """[id, ax, ay, bx, by] — edges of the PoI's ego subgraph (both
    endpoints reached within ``radius``), i.e. the segment set
    ``make_iso_poly`` buffers (availability.py:1042-1056).  Pass a
    precomputed ``snapped`` (nearest_node output) to share the snap with
    other consumers instead of re-evaluating it.  The ego-graph stage is
    the adaptive dispatcher: driver-sized graphs broadcast, larger ones
    take the cell-partitioned Dijkstra (VERDICT r03 #1)."""
    if snapped is None:
        snapped = nearest_node(points, nodes, id_col)
    reach = bounded_network_distances_auto(snapped, nodes, edges, radius, id_col)
    e = edges.select("src", "dst")
    npos = nodes.select("node_id", "x", "y")
    r_src = reach.withColumnRenamed("node_id", "src")
    r_dst = reach.select(F.col(id_col), F.col("node_id").alias("dst"))
    induced = (
        e.join(r_src, "src")
        .join(r_dst, [id_col, "dst"])
        .filter(F.col("src") < F.col("dst"))  # undirected capsule set
        .select(id_col, "src", "dst")
    )
    return (
        induced.join(npos.withColumnsRenamed({"node_id": "src", "x": "ax", "y": "ay"}), "src")
        .join(npos.withColumnsRenamed({"node_id": "dst", "x": "bx", "y": "by"}), "dst")
        .select(id_col, "ax", "ay", "bx", "by")
    )


def _capsule_union(X, Y, ax, ay, bx, by, edge_buff: float) -> np.ndarray:
    """Pixel centres (X, Y) within ``edge_buff`` of any segment
    (ax, ay)→(bx, by): the raster union of the segments' capsules."""
    mask = np.zeros(X.shape, dtype=bool)
    for k in range(len(ax)):
        dx, dy = bx[k] - ax[k], by[k] - ay[k]
        l2 = dx * dx + dy * dy or 1.0
        t = np.clip(((X - ax[k]) * dx + (Y - ay[k]) * dy) / l2, 0.0, 1.0)
        d2 = (X - (ax[k] + t * dx)) ** 2 + (Y - (ay[k] + t * dy)) ** 2
        mask |= d2 <= edge_buff * edge_buff
    return mask


def _fill_holes(mask: np.ndarray) -> np.ndarray:
    """``mask`` plus its holes: the unmasked pixels not 4-connected to
    the window border through other unmasked pixels."""
    if not mask.any():
        return mask
    # flood-fill the outside from the window border.  Vectorized
    # iterative dilation — identical reachability to a per-pixel BFS
    # (which spent ~15 ms/PoI in Python loops), each pass is four
    # shifted ORs over the whole window.
    free = ~mask
    outside = np.zeros_like(mask)
    outside[0, :] = free[0, :]
    outside[-1, :] |= free[-1, :]
    outside[:, 0] |= free[:, 0]
    outside[:, -1] |= free[:, -1]
    while True:
        grow = outside.copy()
        grow[1:, :] |= outside[:-1, :]
        grow[:-1, :] |= outside[1:, :]
        grow[:, 1:] |= outside[:, :-1]
        grow[:, :-1] |= outside[:, 1:]
        grow &= free
        if np.array_equal(grow, outside):
            break
        outside = grow
    return ~outside


def isochrone_raster_mask(
    seg_pdf: pd.DataFrame,
    res: float,
    origin_x: float,
    origin_y: float,
    npx: int,
    edge_buff: float = 25.0,
) -> tuple[np.ndarray, tuple[int, int]]:
    """Rasterized isochrone AoI: union of ``edge_buff``-capsules around
    the segments, with interior holes filled — the raster-level
    equivalent of ``sg.Polygon(unary_union(...).exterior)``
    (availability.py:1060-1062).  Returns (bool mask, (ix0, iy0)) for
    the covering sub-window; pixel selected iff center in AoI."""
    ax = seg_pdf["ax"].to_numpy(float)
    ay = seg_pdf["ay"].to_numpy(float)
    bx = seg_pdf["bx"].to_numpy(float)
    by = seg_pdf["by"].to_numpy(float)
    minx = min(ax.min(), bx.min()) - edge_buff
    maxx = max(ax.max(), bx.max()) + edge_buff
    miny = min(ay.min(), by.min()) - edge_buff
    maxy = max(ay.max(), by.max()) + edge_buff
    ix0 = max(0, int((minx - origin_x) // res))
    ix1 = min(npx - 1, int((maxx - origin_x) // res))
    iy0 = max(0, int((miny - origin_y) // res))
    iy1 = min(npx - 1, int((maxy - origin_y) // res))
    cx = origin_x + (np.arange(ix0, ix1 + 1) + 0.5) * res
    cy = origin_y + (np.arange(iy0, iy1 + 1) + 0.5) * res
    X, Y = np.meshgrid(cx, cy)
    return _fill_holes(_capsule_union(X, Y, ax, ay, bx, by, edge_buff)), (ix0, iy0)


def _rasterize_rects_window(
    rects: np.ndarray,
    origin_x: float,
    origin_y: float,
    res: float,
    ix0: int,
    iy0: int,
    shape: tuple[int, int],
    rings=None,
) -> np.ndarray:
    """Boolean raster over the sub-window starting at global pixel
    (ix0, iy0): pixel center inside any rect [minx,maxx)×[miny,maxy) —
    the layer-level rasterize (R3) the isochrone cover test indexes.
    With ``rings`` (one polygon's rings per rect, the rect its bbox) a
    pixel center inside the bbox must also lie in the polygon
    (``geo.kernels.points_in_polygon``, the membership test of
    ``zonal._aoi_mask``); its half-open edge rule makes a box ring and
    its rect select the same pixels.  Pixel centers are the SAME floats
    as a full-grid rasterization (``origin + (i + 0.5) * res``
    elementwise), so a window crop of the old global grid and this
    window raster are bit-identical."""
    ny, nx = shape
    cx = origin_x + (np.arange(ix0, ix0 + nx) + 0.5) * res
    cy = origin_y + (np.arange(iy0, iy0 + ny) + 0.5) * res
    g = np.zeros((ny, nx), dtype=bool)
    for k, (minx, miny, maxx, maxy) in enumerate(rects):
        x0 = np.searchsorted(cx, minx, "left")
        x1 = np.searchsorted(cx, maxx, "left")
        y0 = np.searchsorted(cy, miny, "left")
        y1 = np.searchsorted(cy, maxy, "left")
        if rings is None:
            g[y0:y1, x0:x1] = True
            continue
        X, Y = np.meshgrid(cx[x0:x1], cy[y0:y1])
        poly = [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in rings[k]]
        g[y0:y1, x0:x1] |= points_in_polygon(X.ravel(), Y.ravel(), poly).reshape(X.shape)
    return g


def greenspace_pct_isochrone(
    points: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    greens: DataFrame,
    radius: float = 350.0,
    res: float = 5.0,
    edge_buff: float = 25.0,
    id_col: str = "id",
    out_col: str = "greenspace_cover",
    origin_x: float | None = None,
    origin_y: float | None = None,
    npx: int | None = None,
) -> DataFrame:
    """[id, greenspace_cover] — greenspace % of the isochrone AoI
    (availability.py:997 with the network buffer of :965-977), computed
    at raster resolution: AoI = hole-filled union of edge capsules
    (make_iso_poly semantics, availability.py:1042-1065); green test =
    pixel center inside any rect of ``greens`` [minx..maxy), or, when
    the layer has ``rings``, inside the polygon itself (so the notch of
    an L-shaped park is not green — the euclidean branch clips the
    rings too).  ``"<v>%"`` round 2.

    Scale design (VERDICT r02 #2 — no driver-side rasterization, no
    global grid anywhere): green rects reach each PoI through
    ``spatial_join.cell_candidates`` — the probe is the PoI's snap node
    ``(x, y)``, the broadcast cover the green bboxes padded by the
    window half-extent ``half`` — then thread into the SAME grouped
    Arrow kernel as the segments via a union-tag (one shuffle, no
    cogroup, no join-back — CLAUDE.md convention), where the kernel
    rasterizes ONLY the PoI's sub-window from its local rects.  Every
    rect with a pixel center in the window reaches the kernel, and a
    candidate outside the window rasterizes to nothing.  Work per PoI
    = O(local rects × window px); nothing scales with world extent or
    total green count.  The window is anchored at the PoI's SNAP NODE,
    not derived from the segment set: every ego node lies within
    network-distance ``radius`` of the snap node, and edge weights are
    Euclidean lengths, so euclid ≤ radius — this keeps the expensive
    Dijkstra-derived segments single-use (no re-evaluation, no
    checkpoint barrier).  Pixel centers are computed identically to a
    full-grid rasterization, so results are bit-identical to the old
    broadcast-grid path.

    Grid origin/extent default to the nodes∪greens bbox padded by
    ``edge_buff`` and snapped to ``res`` — pass them explicitly when
    results must align with an external raster's pixel grid.  The bbox
    is read once per (node, greens) table pair and session
    (``engine.memo``), not once per call.

    PoIs whose ego set yields no edges get a null cover (the reference
    emits None → NaN metrics, availability.py:282-283).
    """
    if origin_x is None or origin_y is None or npx is None:
        nb, gb = memo("iso_bbox", [nodes, greens], lambda: (
            nodes.select(
                F.min("x").alias("x0"), F.min("y").alias("y0"),
                F.max("x").alias("x1"), F.max("y").alias("y1"),
            ).first(),
            greens.select(
                F.min("minx").alias("x0"), F.min("miny").alias("y0"),
                F.max("maxx").alias("x1"), F.max("maxy").alias("y1"),
            ).first(),
        ))
        pad = edge_buff + res
        lo_x = min(float(nb["x0"]), float(gb["x0"]) if gb["x0"] is not None else np.inf) - pad
        lo_y = min(float(nb["y0"]), float(gb["y0"]) if gb["y0"] is not None else np.inf) - pad
        hi_x = max(float(nb["x1"]), float(gb["x1"]) if gb["x1"] is not None else -np.inf) + pad
        hi_y = max(float(nb["y1"]), float(gb["y1"]) if gb["y1"] is not None else -np.inf) + pad
        origin_x = np.floor(lo_x / res) * res
        origin_y = np.floor(lo_y / res) * res
        npx = int(np.ceil((max(hi_x - origin_x, hi_y - origin_y)) / res))

    # snap once, materialize (one tiny row per PoI), feed BOTH the ego
    # Dijkstra and the window derivation — no re-evaluation of the snap
    # join (anti-join convention, CLAUDE.md)
    snapped = nearest_node(points, nodes, id_col).localCheckpoint()
    segs = isochrone_edges(points, nodes, edges, radius, id_col, snapped=snapped)

    from .spatial_join import cell_candidates

    # window half-extent around the snap node: ego nodes are within
    # euclid ≤ network ≤ radius of it; the mask pads segments by
    # edge_buff and pixel rounding adds < res
    half = radius + edge_buff + res
    probe = snapped.select(id_col, "node_id").join(
        nodes.select("node_id", "x", "y"), "node_id"
    ).select(F.col(id_col).alias("_rid"), "x", "y")
    ring_col = ["rings"] if "rings" in greens.columns else []
    local_rects = cell_candidates(
        probe, greens.select("minx", "miny", "maxx", "maxy", *ring_col), pad=half
    )

    # union-tag segments (kind 0: c1..c4 = ax,ay,bx,by) and local rects
    # (kind 1: c1..c4 = minx,miny,maxx,maxy, plus their rings) into ONE
    # grouped stream — a single shuffle feeds the kernel both inputs
    tagged = segs.select(
        F.col(id_col).alias("_gid"), F.lit(0).alias("kind"),
        F.col("ax").alias("c1"), F.col("ay").alias("c2"),
        F.col("bx").alias("c3"), F.col("by").alias("c4"),
        *[F.lit(None).cast("array<array<double>>").alias(c) for c in ring_col],
    ).unionByName(
        local_rects.select(
            F.col("_rid").alias("_gid"), F.lit(1).alias("kind"),
            F.col("minx").alias("c1"), F.col("miny").alias("c2"),
            F.col("maxx").alias("c3"), F.col("maxy").alias("c4"), *ring_col,
        )
    )

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (pid,) = key
        k = pdf["kind"].to_numpy()
        if not (k == 0).any():  # rect-only group: PoI has no ego edges —
            return pd.DataFrame({id_col: [], "pct": []})  # null via left join
        seg_pdf = pdf.loc[k == 0, ["c1", "c2", "c3", "c4"]].rename(
            columns={"c1": "ax", "c2": "ay", "c3": "bx", "c4": "by"}
        )
        mask, (ix0, iy0) = isochrone_raster_mask(
            seg_pdf, res, origin_x, origin_y, npx, edge_buff
        )
        total = int(mask.sum())
        if total == 0:
            return pd.DataFrame({id_col: [pid], "pct": [None]})
        rects = pdf.loc[k == 1, ["c1", "c2", "c3", "c4"]].to_numpy(np.float64)
        rings = pdf.loc[k == 1, "rings"].tolist() if ring_col else None
        gg = _rasterize_rects_window(
            rects, origin_x, origin_y, res, ix0, iy0, mask.shape, rings
        )
        raw = float(gg[mask].sum()) / total * 100.0
        # half-away-from-zero to 2dp (matches Spark/DuckDB round, not
        # Python's banker's rounding)
        pct = float(np.floor(raw * 100.0 + 0.5) / 100.0)
        return pd.DataFrame({id_col: [pid], "pct": [pct]})

    pcts = tagged.groupBy("_gid").applyInPandas(
        kernel, schema=f"{id_col} long, pct double"
    )
    return (
        points.select(id_col).distinct()
        .join(pcts, id_col, "left")
        .select(
            id_col,
            F.when(
                F.col("pct").isNotNull(),
                F.concat(F.col("pct").cast("string"), F.lit("%")),
            ).alias(out_col),
        )
    )


def entrance_nodes_clipped(
    points: DataFrame,
    greens: DataFrame,
    reach: DataFrame,
    target_dist: float,
    tol: float = 20.0,
    id_col: str = "id",
) -> DataFrame:
    """[id, gs_id, node_id, ex, ey] — reference-exact entrance detection:
    nodes within ``tol`` of the boundary of the greenspace *clipped to
    the PoI's 32-gon buffer* (accessibility.py:228+245 operate on the
    clipped GeoDataFrame, so clip arcs count as boundary).

    Per-PoI Arrow kernel over a cogroup of (candidate greens, ego
    nodes); heavier than the rect-boundary default
    (`entrance_nodes_rect`, used by the SQL-checkable gate query).
    """
    from ..geo.kernels import (
        box_ring, circle_polygon, clip_polygon_convex, points_to_ring_distance,
    )
    from .spatial_join import cell_candidates

    # candidate greens per PoI (32-gon intersect test happens in-kernel
    # via the clip itself)
    pdx = F.greatest(F.lit(0.0), F.col("minx") - F.col("x"), F.col("x") - F.col("maxx"))
    pdy = F.greatest(F.lit(0.0), F.col("miny") - F.col("y"), F.col("y") - F.col("maxy"))
    cand = cell_candidates(
        points.select(id_col, "x", "y"),
        greens.select("gs_id", "minx", "miny", "maxx", "maxy"),
        pad=float(target_dist),
    ).filter(
        (pdx * pdx + pdy * pdy) <= F.lit(float(target_dist) ** 2),
    ).drop("cell")
    npos = reach  # [id, node_id, net_dist] joined with coords by caller

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = [id_col, "gs_id", "node_id", "ex", "ey"]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({c: [] for c in cols})
        px = float(left["x"].iloc[0])
        py = float(left["y"].iloc[0])
        pid = left[id_col].iloc[0]
        buf = circle_polygon(px, py, float(target_dist))
        nx = right["ex"].to_numpy(float)
        ny = right["ey"].to_numpy(float)
        nid = right["node_id"].to_numpy(np.int64)
        out = []
        for gr in left.itertuples(index=False):
            rect = [box_ring(gr.minx, gr.miny, gr.maxx, gr.maxy)]
            clipped = clip_polygon_convex(rect, buf)
            if not clipped:
                continue
            d = points_to_ring_distance(nx, ny, clipped[0])
            for hole in clipped[1:]:
                d = np.minimum(d, points_to_ring_distance(nx, ny, hole))
            hit = d < tol
            out.extend((pid, gr.gs_id, int(nid[i]), nx[i], ny[i]) for i in np.nonzero(hit)[0])
        return pd.DataFrame(out, columns=cols) if out else pd.DataFrame({c: [] for c in cols})

    return (
        cand.groupBy(id_col)
        .cogroup(npos.groupBy(id_col))
        .applyInPandas(kernel, schema=f"{id_col} long, gs_id long, node_id long, ex double, ey double")
    )


def shortest_distance_greenspace_network_exact(
    points: DataFrame,
    greens: DataFrame,
    nodes: DataFrame,
    edges: DataFrame,
    target_dist: float = 300.0,
    min_area: float = 400.0,
    destination: str = "centroids",
    id_col: str = "id",
) -> DataFrame:
    """Network accessibility with reference-exact clipped-boundary
    entrances (golden-parity path; the rect-boundary variant is the
    gate default)."""
    from .accessibility import _outcome_clamp

    g = greens.filter(F.col("area") >= F.lit(min_area))
    snapped = nearest_node(points, nodes, id_col)
    reach = bounded_network_distances_auto(snapped, nodes, edges, target_dist * 1.5, id_col)
    reach_pos = reach.join(
        nodes.select("node_id", F.col("x").alias("ex"), F.col("y").alias("ey")), "node_id"
    )
    ent = entrance_nodes_clipped(points, g, reach_pos, target_dist, 20.0, id_col)
    paths = (
        ent.join(reach, [id_col, "node_id"])
        .join(F.broadcast(g.select("gs_id", "cx", "cy")), "gs_id")
    )
    dist = F.col("net_dist") + F.col("penalty_home")
    if destination == "centroids":
        cdx = F.col("cx") - F.col("ex")
        cdy = F.col("cy") - F.col("ey")
        dist = dist + F.sqrt(cdx * cdx + cdy * cdy)
    near = paths.select(id_col, dist.alias("d")).groupBy(id_col).agg(
        F.round(F.min("d"), 0).alias("min_dist")
    )
    return _outcome_clamp(points, near, target_dist, id_col)
