"""Web-graph centrality over document link edges.

Quantized damped PageRank — the canonical web-crawl quality prior
(Page et al. 1999; CommonCrawl ranks hosts the same way to steer crawl
frequency and to prioritize curation).  "Quantized" the way
`clustering.kmeans_fit_predict` is: per-iteration edge contributions are
rounded to exact pico-ints (1e12) before the per-node sum and the rank
vector is re-rounded to 9 dp each round, so the fixpoint iteration is
bit-reproducible across engines and partitionings — the property that
lets the DuckDB oracle unroll the SAME rounds as CTEs and hash-match.

Scale shape per iteration: one equi-join of the edge table to the rank
vector on ``src`` (both sides partitioned by the join key — at web
scale this is the co-partitioned join `engine/bucketing` exists for),
one (dst)-keyed integer-sum aggregation, and two scalar aggregates
(dangling mass, 1 row, broadcast).  Rank lineage is cut with
``localCheckpoint`` each round (CLAUDE.md: iterative DataFrame loops
must checkpoint or Catalyst hangs on plan growth).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint, localcheckpoint_fresh

PICO = 1_000_000_000_000.0


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """[a, b] — the distinct undirected simple edges (a < b, no loops)."""
    return (
        edges.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _rank_rounds(
    ranks: DataFrame,
    nodes: DataFrame,
    eo: DataFrame,
    out: DataFrame,
    share,
    rank,
    n_iters: int,
    keep: tuple = ("node",),
) -> DataFrame:
    """``n_iters`` quantized rounds of the PageRank family: every edge
    of ``eo`` carries ``share`` of its source's rank ``r`` (rounded to
    pico-ints), the rank of nodes absent from ``out`` (dangling) sums
    into one broadcast pico-int scalar ``dgp``, and ``rank`` — over the
    summed inflow ``s`` and ``dgp`` — is each node's next ``r``,
    re-rounded to 9 dp."""

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contrib = eo.join(ranks, eo["src"] == ranks["node"]).select(
            "dst", F.round(share * PICO).cast("long").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        dang = (
            ranks.join(out, ranks["node"] == out["src"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.round(F.col("r") * PICO).cast("long")), F.lit(0)
                ).alias("dgp")
            )
        )
        return (
            nodes.join(summed, nodes["node"] == summed["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(*keep, F.round(rank, 9).alias("r"))
        )

    return fixpoint(ranks, step, n_iters)


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """[node, rank] — damped PageRank after ``n_iters`` quantized
    rounds from the uniform start.  ``edges`` must be distinct directed
    pairs; nodes are everything appearing as src or dst; dangling-node
    mass (nodes with no out-edges) is redistributed uniformly each
    round, summed in pico-ints so the scalar is FP-order independent.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    od = e.groupBy("src").agg(F.count("*").alias("od"))
    eo = e.join(od, "src").localCheckpoint()  # edges + outdeg, reused every round
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 9).alias("r"))
    base = (1.0 - damping) / n
    ranks = _rank_rounds(
        ranks, nodes, eo, od, F.col("r") / F.col("od"),
        base
        + damping * (F.coalesce("s", F.lit(0)) / PICO)
        + damping * (F.col("dgp") / PICO) / n,
        n_iters,
    )
    return ranks.select("node", F.col("r").alias("rank"))


def doc_link_edges(df: DataFrame, n_docs: int, id_col: str = "doc_id") -> DataFrame:
    """[src, dst] — deterministic synthetic link graph over the corpus
    (the fixture has no hyperlink column): every document links to
    ``(31·id+7) mod N`` and ``(17·id+3) mod N``, self-links removed,
    distinct.  Affine maps with multipliers coprime-ish to N give a
    connected expander-like digraph — enough structure for PageRank to
    produce a non-uniform, oracle-checkable ranking."""
    d1 = df.select(
        F.col(id_col).alias("src"),
        ((F.col(id_col) * 31 + 7) % n_docs).alias("dst"),
    )
    d2 = df.select(
        F.col(id_col).alias("src"),
        ((F.col(id_col) * 17 + 3) % n_docs).alias("dst"),
    )
    return d1.union(d2).filter(F.col("src") != F.col("dst")).distinct()


def pagerank_oracle_sql(
    n_iters: int = 3, damping: float = 0.85, table: str = "documents"
) -> str:
    """The identical quantized rounds as one DuckDB SQL string (CTE per
    round, unrolled) — generated next to the operator per the
    shared-formula convention so the two sides cannot drift."""
    d = damping
    ctes = [
        f"n AS (SELECT count(*) AS n FROM {table})",
        f"""e0 AS (
  SELECT doc_id AS src, (doc_id * 31 + 7) % n.n AS dst FROM {table} CROSS JOIN n
  UNION ALL
  SELECT doc_id, (doc_id * 17 + 3) % n.n FROM {table} CROSS JOIN n
)""",
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)",
        "od AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "r0 AS (SELECT node, round(1.0 / n.n, 9) AS r"
        " FROM nodes CROSS JOIN n)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS node,
         CAST(round(r{p}.r / od.od * 1000000000000.0) AS BIGINT) AS c
  FROM e JOIN r{p} ON e.src = r{p}.node JOIN od ON od.src = e.src
)"""
        )
        ctes.append(f"s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node)")
        ctes.append(
            f"""dg{i} AS (
  SELECT coalesce(sum(CAST(round(r{p}.r * 1000000000000.0) AS BIGINT)), 0) AS dgp
  FROM r{p} LEFT JOIN od ON r{p}.node = od.src WHERE od.src IS NULL
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT nodes.node,
         round((1.0 - {d}) / n.n
               + {d} * (coalesce(s{i}.s, 0) / 1000000000000.0)
               + {d} * (dg{i}.dgp / 1000000000000.0) / n.n, 9) AS r
  FROM nodes LEFT JOIN s{i} ON nodes.node = s{i}.node
  CROSS JOIN n CROSS JOIN dg{i}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, r AS rank FROM r{n_iters}"
    )


def graph_reciprocity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row [n_edges, n_reciprocal, reciprocity] — fraction of
    directed edges whose reverse edge also exists (webgraph health /
    link-farm signal: organic link graphs are weakly reciprocal,
    mutual-linking rings are not).  Self-loops excluded; duplicate
    edges collapsed first.  Exact integer counts + one round-6
    division.  Shape: distinct → ONE self-equi-join on the reversed
    key (co-partitioned: both sides hash the same columns) → one 1-row
    aggregate.
    """
    e = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"),
                   F.lit(1).alias("_r"))
    j = e.join(rev, ["s", "d"], "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.coalesce(F.col("_r"), F.lit(0))).cast("long")
        .alias("n_reciprocal"),
    ).select(
        "n_edges", "n_reciprocal",
        F.round(
            F.col("n_reciprocal").cast("double") / F.col("n_edges"), 6
        ).alias("reciprocity"),
    )


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row [n_edges, assortativity] — Pearson correlation of the
    endpoint UNDIRECTED degrees across undirected edges (Newman 2002):
    do hubs link to hubs?  Edges are undirected/simple (self-loops
    dropped, (a,b)≡(b,a) collapsed); each edge contributes BOTH
    orientations to the correlation, the standard symmetric treatment.

    Exactness: degrees are integers, all five moment sums are exact
    DECIMAL(38,0), and the correlation uses the integer-numerator form
    (m·Σxy − Σx·Σy) / sqrt((m·Σxx − Σx²)(m·Σyy − Σy²)) — one sqrt +
    one division, round-6 (the SLX/Cramer convention; zero FP
    cancellation).  Shape: two degree joins on the endpoint keys
    (co-partitioned with the degree aggregate), one 1-row reduction.
    """
    und = _undirected(edges, src_col, dst_col)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    dec = "decimal(38,0)"
    j = (
        both.join(deg.select(F.col("a"), F.col("deg").alias("dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("dy")), "b"
        )
        .select(
            F.col("dx").cast(dec).alias("x"), F.col("dy").cast(dec).alias("y")
        )
    )
    s = j.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(
            num / F.nullif(F.sqrt(vx) * F.sqrt(vy), F.lit(0.0)) + F.lit(0.0),
            6,
        ).alias("assortativity"),
    )


def triangle_stats(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row [n_triangles, n_wedges, global_clustering] — exact
    triangle count + global clustering coefficient (3·triangles /
    wedges) of the undirected simple graph.

    The standard distributed count: orient every undirected edge from
    its lower-(degree, id) endpoint to the higher one (a total order,
    so each triangle is counted EXACTLY once at its lowest-order
    vertex), self-join the oriented list on the pivot, and close
    against the oriented edge set.  Oriented out-degree is bounded by
    O(sqrt(m)) on any graph, which is what keeps the pivot join's
    fan-out polynomial at webgraph scale (the Suri-Vassilvitskii
    bound).  Wedges = Σ d(d−1)/2 over undirected degrees.  All
    integers; one round-6 division.
    """
    und = _undirected(edges, src_col, dst_col)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # orient by (degree, id): lower endpoint -> higher endpoint
    d1 = deg.select(F.col("a").alias("u"), F.col("deg").alias("du"))
    d2 = deg.select(F.col("a").alias("v"), F.col("deg").alias("dv"))
    o = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(d1, "u").join(d2, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("x"), F.col("v").alias("y"),
                    F.col("dv").alias("yd"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("x"), F.col("u").alias("y"),
                    F.col("du").alias("yd"),
                )
            )
            .alias("e")
        )
        .select("e.x", "e.y", "e.yd")
    )
    # wedges at the pivot x: pairs of oriented out-neighbours, emitted
    # in the SAME (degree, id) order the orientation uses — ordering by
    # id alone would miss triangles whose closing edge runs id-backwards
    w1 = o.select(F.col("x"), F.col("y").alias("y1"), F.col("yd").alias("e1"))
    w2 = o.select(F.col("x"), F.col("y").alias("y2"), F.col("yd").alias("e2"))
    cand = (
        w1.join(w2, "x")
        .filter(
            (F.col("e1") < F.col("e2"))
            | ((F.col("e1") == F.col("e2")) & (F.col("y1") < F.col("y2")))
        )
        .select(F.col("y1").alias("x"), F.col("y2").alias("y"))
    )
    tri = cand.join(
        o.select("x", "y").withColumn("_hit", F.lit(1)), ["x", "y"], "left"
    ).agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("t"))
    wedges = deg.agg(
        F.sum(F.col("deg").cast("decimal(38,0)") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("w")
    )
    return tri.crossJoin(wedges).select(
        F.col("t").alias("n_triangles"),
        F.col("w").alias("n_wedges"),
        F.round(
            3.0 * F.col("t").cast("double")
            / F.nullif(F.col("w").cast("double"), F.lit(0.0))
            + F.lit(0.0),
            6,
        ).alias("global_clustering"),
    )


def local_clustering(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """[node, degree, n_tri, local_cc] — per-vertex triangle count and
    local clustering coefficient 2·T(v) / (d(v)·(d(v)−1)) of the
    undirected simple graph, one row per vertex of degree ≥ 2
    (the coefficient is undefined below that).

    Same degree-ordered orientation as :func:`triangle_stats` — each
    triangle is materialized exactly once at its lowest-(degree, id)
    pivot, so enumeration cost keeps the Suri–Vassilvitskii
    O(sqrt m) oriented out-degree bound — but the closed wedge keeps
    its full vertex TRIPLE, explodes to the three corners (a 3× map-side
    factor, no extra shuffle shape), and a groupBy counts incidences
    per vertex.  All integers; one final division, round-6.
    """
    und = _undirected(edges, src_col, dst_col)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    d1 = deg.select(F.col("a").alias("u"), F.col("deg").alias("du"))
    d2 = deg.select(F.col("a").alias("v"), F.col("deg").alias("dv"))
    o = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(d1, "u").join(d2, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("x"), F.col("v").alias("y"),
                    F.col("dv").alias("yd"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("x"), F.col("u").alias("y"),
                    F.col("du").alias("yd"),
                )
            )
            .alias("e")
        )
        .select("e.x", "e.y", "e.yd")
    )
    w1 = o.select(F.col("x"), F.col("y").alias("y1"), F.col("yd").alias("e1"))
    w2 = o.select(F.col("x"), F.col("y").alias("y2"), F.col("yd").alias("e2"))
    # keep the pivot: the closed wedge (x, y1, y2) is the full triangle
    tri3 = (
        w1.join(w2, "x")
        .filter(
            (F.col("e1") < F.col("e2"))
            | ((F.col("e1") == F.col("e2")) & (F.col("y1") < F.col("y2")))
        )
        .join(
            o.select(F.col("x").alias("y1"), F.col("y").alias("y2")),
            ["y1", "y2"],
        )
        .select("x", "y1", "y2")
    )
    tv = (
        tri3.select(F.explode(F.array("x", "y1", "y2")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tv, deg["a"] == tv["v"], "left")
        .select(
            F.col("a").alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_tri"),
            F.round(
                F.lit(2.0) * F.coalesce(F.col("t"), F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ).alias("local_cc"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """[node, label] — semi-supervised label propagation (Zhu &
    Ghahramani) over the undirected simple graph: each SYNCHRONOUS
    round relabels every non-seed node with the majority label of its
    labelled neighbours under a (count desc, label asc) total order;
    seeds are CLAMPED.  Nodes that never see a labelled neighbour stay
    unlabelled (absent).  Fixed ``rounds`` keeps the op deterministic
    and SQL-twinnable (one CTE level per round).

    Shape: one vote join + two-phase majority per round on the node
    key; the frontier frame is localCheckpoint'd per round (the
    iterative-lineage rule) and the seed clamp's anti-join runs
    against the checkpointed frame, never a live subtree.
    """
    from pyspark.sql import Window

    und = _undirected(edges, src_col, dst_col)
    bo = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sd = seeds.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    )
    labels = sd.localCheckpoint()
    w = Window.partitionBy("a").orderBy(F.col("c").desc(), F.col("label").asc())

    def step(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            bo.join(labels, bo["b"] == labels["node"])
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("a").alias("node"), "label")
        )
        return sd.unionByName(new.join(sd.select("node"), "node", "left_anti"))

    labels = fixpoint(labels, step, rounds)
    return labels.select(F.col("node").alias(node_col), F.col("label").alias(label_col))


def hits(
    edges: DataFrame,
    n_iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """[node, hub, authority] — HITS (Kleinberg) after ``n_iters``
    quantized rounds from the uniform hub start, L1-normalized (the
    sqrt of the textbook L2 norm is replaced by a sum so every
    normalizer is an EXACT integer: contributions are rounded to
    pico-ints before summing — the pagerank contract — and each score
    is one double division + round-9).  Authorities aggregate incoming
    hub mass, hubs aggregate outgoing authority mass; nodes missing a
    side score exactly 0.0.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    h = nodes.select("node", F.round(F.lit(1.0 / n), 9).alias("h"))

    def spread(score: DataFrame, frm: str, to: str, name: str) -> DataFrame:
        """[node, name] — the L1-normalized pico-int mass each node
        receives from ``score`` along the edges frm → to."""
        raw = (
            e.join(score, e[frm] == score["node"])
            .select(to, F.round(F.col(score.columns[1]) * PICO).cast("long").alias("c"))
            .groupBy(to)
            .agg(F.sum("c").alias("raw"))
        )
        tot = raw.agg(F.sum("raw").alias("tot"))
        return (
            nodes.join(raw, nodes["node"] == raw[to], "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("raw"), F.lit(0)).cast("double")
                    / F.col("tot").cast("double"),
                    9,
                ).alias(name),
            )
        )

    def step(state: tuple, _: int) -> tuple:
        # authorities are read by this round's hubs and returned
        a = spread(state[0], "src", "dst", "a").localCheckpoint()
        return spread(a, "dst", "src", "h"), a

    h, a = fixpoint((h, None), step, n_iters)
    return (
        h.join(a, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("authority"))
    )


def kcore_membership(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """[node, core_deg] — the k-core of the undirected simple graph
    (maximal subgraph where every vertex keeps degree ≥ k), with each
    member's degree inside the core.

    Peeling as a monotone fixpoint: alive₀ = all vertices,
    aliveⱼ₊₁ = {v : #(neighbours ∩ aliveⱼ) ≥ k}.  A removed vertex can
    never re-qualify (alive only shrinks, so its alive-neighbour count
    only falls), which is what lets each round be ONE hash join + one
    two-phase count — no second membership join — and lets the DuckDB
    oracle run the same step under recursive-CTE working-table
    semantics.  Rounds = peeling depth (all sub-k vertices drop
    simultaneously), far below the vertex-count worst case; the rounds
    run under ``engine/iterate.fixpoint``, which checkpoints each alive
    set with reset statistics, and each set is counted once.

    Scale: every round shuffles by vertex id only; degree counting is
    map-side combinable.  State = the alive vertex set, shrinking
    monotonically.
    """
    und = _undirected(edges, src_col, dst_col)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    alive = both.select(F.col("a").alias("node")).distinct().localCheckpoint()
    sizes = [alive.count()]  # each round's size counted once, carried

    def peel(alive: DataFrame, _: int) -> DataFrame:
        return (
            both.join(alive, both["b"] == alive["node"])
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("a").alias("node"))
        )

    def stable(_: DataFrame, nxt: DataFrame) -> bool:
        sizes.append(nxt.count())
        return sizes[-1] == sizes[-2]

    alive = fixpoint(alive, peel, max_rounds, stable)
    core1 = alive.select(F.col("node").alias("a"))
    core2 = alive.select(F.col("node").alias("b"))
    return (
        both.join(core1, "a").join(core2, "b")
        .groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """[host_a, host_b, n_common, aa_score] — Adamic–Adar
    link-prediction score Σ_z 1/ln(deg z) over the common neighbours z
    of every NON-adjacent pair in the undirected simple graph (which
    hosts *should* link but don't — the crawl-frontier / related-domain
    signal next to the descriptive webgraph stats).

    Shape: pivot on the shared neighbour — each node z emits its
    neighbour pairs once (y1 < y2), weight 1/ln(deg z) computed BEFORE
    the pair fan-out, then one groupBy(a,b) sum and a LEFT ANTI join
    against the edge set drops the already-linked pairs.  The fan-out
    is Σ deg(z)², the irreducible cost of exact common-neighbour
    counting; at webgraph scale pass ``max_degree`` to skip hub pivots
    — a documented approximation that only discards the lowest-weight
    terms (a hub contributes 1/ln(deg) → 0 and pairs *everything*, so
    the cap is also where ~all the cost lives).

    Exactness: common neighbours have deg ≥ 2 so ln > 0; each weight
    is one double division and the per-pair sum spans ≤ |V| terms of
    magnitude ≤ 1/ln 2, so the engine-order-dependent summation error
    sits ~1e-13 — far inside the round-6 contract (the
    q_markov_entropy ln() convention).
    """
    und = _undirected(edges, src_col, dst_col)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("dg"))
    piv = (
        both.select(F.col("a").alias("z"), F.col("b").alias("y"))
        .join(deg.select(F.col("a").alias("z"), "dg"), "z")
    )
    if max_degree is not None:
        piv = piv.filter(F.col("dg") <= max_degree)
    piv = piv.select(
        "z", "y", (F.lit(1.0) / F.log(F.col("dg").cast("double"))).alias("w")
    )
    p1 = piv.select("z", F.col("y").alias("a"), "w")
    p2 = piv.select("z", F.col("y").alias("b"))
    sc = (
        p1.join(p2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w").alias("score"),
        )
    )
    return sc.join(und, ["a", "b"], "left_anti").select(
        F.col("a").alias("host_a"),
        F.col("b").alias("host_b"),
        "n_common",
        F.round(F.col("score") + F.lit(0.0), 6).alias("aa_score"),
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """[node, rank] — TrustRank (Gyöngyi et al. 2004): PageRank whose
    teleport AND dangling mass land only on a trusted seed set — the
    crawl-curation spam demoter (pages reachable from trusted hosts
    keep rank; link-farm islands starve).  Same pico-int quantization
    contract as ``pagerank`` (contributions rounded to 1e-12 before
    the per-node sum, rank re-rounded to 9 dp per round) so the
    unrolled DuckDB oracle hash-matches; start vector is uniform over
    the seeds, 0 elsewhere.

    Scale shape per iteration: identical to pagerank — one src-keyed
    equi-join, one dst-keyed integer sum, one 1-row dangling scalar —
    plus a broadcast seed-flag join (seeds are dim-sized by
    definition: a curated trust list, not the corpus).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    nodes = (
        nodes.join(
            F.broadcast(sd.withColumn("_s", F.lit(1))), "node", "left"
        )
        .select("node", F.coalesce(F.col("_s"), F.lit(0)).alias("is_seed"))
        .localCheckpoint()
    )
    ns = nodes.agg(F.sum("is_seed")).collect()[0][0]
    if not ns:
        raise ValueError("trustrank: no seed appears in the graph")
    od = e.groupBy("src").agg(F.count("*").alias("od"))
    eo = e.join(od, "src").localCheckpoint()
    ranks = nodes.select(
        "node", "is_seed",
        F.when(F.col("is_seed") == 1, F.round(F.lit(1.0 / ns), 9))
        .otherwise(F.lit(0.0))
        .alias("r"),
    )
    base = (1.0 - damping) / ns
    seed = F.col("is_seed") == 1
    ranks = _rank_rounds(
        ranks, nodes, eo, od, F.col("r") / F.col("od"),
        F.when(seed, F.lit(base)).otherwise(0.0)
        + damping * (F.coalesce("s", F.lit(0)) / PICO)
        + F.when(seed, damping * (F.col("dgp") / PICO) / ns).otherwise(0.0),
        n_iters,
        keep=("node", "is_seed"),
    )
    return ranks.select("node", F.col("r").alias("rank"))


def trustrank_oracle_sql(
    n_iters: int = 3,
    damping: float = 0.85,
    seed_mod: int = 13,
    table: str = "documents",
) -> str:
    """The identical quantized TrustRank rounds unrolled as DuckDB CTEs
    (same doc link graph as ``pagerank_oracle_sql``; seeds = nodes with
    node % seed_mod = 0) — generated beside the operator so the two
    sides cannot drift."""
    d = damping
    ctes = [
        f"n AS (SELECT count(*) AS n FROM {table})",
        f"""e0 AS (
  SELECT doc_id AS src, (doc_id * 31 + 7) % n.n AS dst FROM {table} CROSS JOIN n
  UNION ALL
  SELECT doc_id, (doc_id * 17 + 3) % n.n FROM {table} CROSS JOIN n
)""",
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)",
        "od AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        f"sn AS (SELECT node, CASE WHEN node % {seed_mod} = 0 THEN 1 ELSE 0 END"
        " AS is_seed FROM nodes)",
        "ns AS (SELECT sum(is_seed) AS ns FROM sn)",
        "r0 AS (SELECT node, is_seed, CASE WHEN is_seed = 1"
        " THEN round(1.0 / ns.ns, 9) ELSE 0.0 END AS r"
        " FROM sn CROSS JOIN ns)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS node,
         CAST(round(r{p}.r / od.od * 1000000000000.0) AS BIGINT) AS c
  FROM e JOIN r{p} ON e.src = r{p}.node JOIN od ON od.src = e.src
)"""
        )
        ctes.append(f"s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node)")
        ctes.append(
            f"""dg{i} AS (
  SELECT coalesce(sum(CAST(round(r{p}.r * 1000000000000.0) AS BIGINT)), 0) AS dgp
  FROM r{p} LEFT JOIN od ON r{p}.node = od.src WHERE od.src IS NULL
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT sn.node, sn.is_seed,
         round(CASE WHEN sn.is_seed = 1 THEN (1.0 - {d}) / ns.ns ELSE 0.0 END
               + {d} * (coalesce(s{i}.s, 0) / 1000000000000.0)
               + CASE WHEN sn.is_seed = 1
                      THEN {d} * (dg{i}.dgp / 1000000000000.0) / ns.ns
                      ELSE 0.0 END, 9) AS r
  FROM sn LEFT JOIN s{i} ON sn.node = s{i}.node
  CROSS JOIN ns CROSS JOIN dg{i}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, r AS rank FROM r{n_iters}"
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """One row [n_communities, m_edges, e_intra, modularity] — Newman
    modularity Q of a node partition over the undirected simple graph
    (the community-quality readout that closes the label-propagation
    loop: Q ≫ 0 means the propagated labels track real link
    structure).  Nodes missing from ``communities`` become singleton
    communities (the standard completion — they contribute only their
    −(d/2m)² term).

    Exactness contract: with m = #undirected edges, E = #intra-
    community edges and SD2 = Σ_c (Σ_{v∈c} deg v)², all exact int64,

        Q = Σ_c [e_c/m − (D_c/2m)²] = (4m·E − SD2) / (4m²)

    — one division of two exact int64s, engine-portable unrounded.
    int64 envelope: SD2 ≤ (2m)² — safe through ~10⁹ edges.

    Distributed shape: dedup to the undirected edge set, one label
    join per endpoint (communities are node-sized, edges fact-sized —
    the joins shuffle on node), then three 1-row aggregates; no
    driver-side state.
    """
    und = (
        edges.select(
            F.least(src_col, dst_col).alias("ua"),
            F.greatest(src_col, dst_col).alias("ub"),
        )
        .filter(F.col("ua") != F.col("ub"))
        .distinct()
    )
    bo = und.unionByName(
        und.select(F.col("ub").alias("ua"), F.col("ua").alias("ub"))
    )
    deg = bo.groupBy(F.col("ua").alias("node")).agg(
        F.count(F.lit(1)).alias("dg")
    )
    lab = (
        deg.join(
            communities.select(
                F.col(node_col).alias("node"), F.col(label_col).alias("_l")
            ),
            "node",
            "left",
        )
        .select(
            "node", "dg",
            F.coalesce(F.col("_l"), F.concat(F.lit("u:"), F.col("node")))
            .alias("lab"),
        )
        .localCheckpoint()  # reused by three branches below
    )
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ei = (
        und.join(lab.select(F.col("node").alias("ua"),
                            F.col("lab").alias("la")), "ua")
        .join(lab.select(F.col("node").alias("ub"),
                         F.col("lab").alias("lb")), "ub")
        .agg(
            F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
            .cast("long")
            .alias("e_intra")
        )
    )
    d2 = (
        lab.groupBy("lab")
        .agg(F.sum("dg").alias("ds"))
        .agg(F.sum(F.col("ds") * F.col("ds")).cast("long").alias("sd2"))
    )
    nc = lab.agg(F.countDistinct("lab").cast("long").alias("n_communities"))
    return (
        nc.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(ei))
        .crossJoin(F.broadcast(d2))
        .select(
            "n_communities",
            F.col("m").alias("m_edges"),
            "e_intra",
            (
                (4 * F.col("m") * F.col("e_intra") - F.col("sd2"))
                .cast("double")
                / (4 * F.col("m") * F.col("m")).cast("double")
            ).alias("modularity"),
        )
    )


def ktruss_edges(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """[a, b, support] — the k-truss of the undirected simple graph:
    the maximal subgraph in which every edge closes ≥ k−2 triangles
    WITHIN the subgraph, each surviving edge reported with its final
    in-truss support.  The cohesion filter one notch above k-core
    (every k-truss edge sits in the (k−1)-core, not vice versa) —
    the standard community-backbone extractor on webgraphs.

    Peeling as a monotone fixpoint on EDGES: support only falls as
    edges drop, so a removed edge never re-qualifies, and all sub-k
    edges drop simultaneously per round (rounds = peeling depth).
    Per-round support counting enumerates each triangle exactly ONCE
    via the (degree, id) orientation (the Suri–Vassilvitskii bound
    shared with :func:`triangle_stats`: oriented out-degree is
    O(sqrt(m)), so the pivot join's fan-out stays polynomial at
    webgraph scale), then explodes the 3 member edges and counts —
    never the naive |N(a) ∩ N(b)| join the DuckDB oracle runs.
    ``localCheckpoint`` per round caps plan lineage (CLAUDE.md).
    """
    t = k - 2
    alive = _undirected(edges, src_col, dst_col).localCheckpoint()
    sizes = [alive.count()]  # each round's size counted once, carried

    def supports(und: DataFrame) -> DataFrame:
        """[a, b, support] — per-edge triangle count, each triangle
        enumerated once at its orientation source."""
        both = und.unionByName(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        d1 = deg.select(F.col("a").alias("u"), F.col("deg").alias("du"))
        d2 = deg.select(F.col("a").alias("v"), F.col("deg").alias("dv"))
        o = (
            und.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .join(d1, "u").join(d2, "v")
            .select(
                F.when(
                    (F.col("du") < F.col("dv"))
                    | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                    F.struct(
                        F.col("u").alias("x"), F.col("v").alias("y"),
                        F.col("dv").alias("yd"),
                    ),
                )
                .otherwise(
                    F.struct(
                        F.col("v").alias("x"), F.col("u").alias("y"),
                        F.col("du").alias("yd"),
                    )
                )
                .alias("e")
            )
            .select("e.x", "e.y", "e.yd")
        ).localCheckpoint()  # three consumers below (no-CSE rule)
        w1 = o.select(
            F.col("x"), F.col("y").alias("p"), F.col("yd").alias("pd")
        )
        w2 = o.select(
            F.col("x"), F.col("y").alias("q"), F.col("yd").alias("qd")
        )
        wedges = w1.join(w2, "x").filter(
            (F.col("pd") < F.col("qd"))
            | ((F.col("pd") == F.col("qd")) & (F.col("p") < F.col("q")))
        )
        tri = wedges.join(
            o.select(F.col("x").alias("p"), F.col("y").alias("q")),
            ["p", "q"],
        )
        mem = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("x", "p").alias("a"),
                        F.greatest("x", "p").alias("b"),
                    ),
                    F.struct(
                        F.least("x", "q").alias("a"),
                        F.greatest("x", "q").alias("b"),
                    ),
                    F.struct(
                        F.least("p", "q").alias("a"),
                        F.greatest("p", "q").alias("b"),
                    ),
                )
            ).alias("e")
        ).select("e.a", "e.b")
        return mem.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("long").alias("support")
        )

    def peel(alive: DataFrame, _: int) -> DataFrame:
        return supports(alive).filter(F.col("support") >= t).select("a", "b")

    def stable(_: DataFrame, nxt: DataFrame) -> bool:
        sizes.append(nxt.count())
        return sizes[-1] in (sizes[-2], 0)

    alive = fixpoint(alive, peel, max_rounds, stable)
    return supports(alive).filter(F.col("support") >= t)


def ktruss_oracle_tail(e0: str, k: int, rounds: int) -> str:
    """CTE chain peeling ``e0 (a, b)`` to the k-truss by the NAIVE
    common-neighbour count (|N(a) ∩ N(b)| join — deliberately a
    different formulation than the engine's oriented enumeration),
    unrolled ``rounds`` times (idempotent once converged, so
    over-unrolling is safe; callers must over-provision vs the
    measured peeling depth).  Returns the tail to append after the
    CTE defining ``e0``."""
    t = k - 2
    parts = []
    for i in range(rounds):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT a, b FROM e{i} "
            f"UNION ALL SELECT b AS a, a AS b FROM e{i})"
        )
        parts.append(
            f"""e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i} e
  JOIN n{i} x ON x.a = e.a
  JOIN n{i} y ON y.a = e.b AND y.b = x.b
  GROUP BY e.a, e.b HAVING count(*) >= {t}
)"""
        )
    parts.append(
        f"nf AS MATERIALIZED (SELECT a, b FROM e{rounds} "
        f"UNION ALL SELECT b AS a, a AS b FROM e{rounds})"
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
FROM e{rounds} e
JOIN nf x ON x.a = e.a
JOIN nf y ON y.a = e.b AND y.b = x.b
GROUP BY e.a, e.b"""
    )


def harmonic_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """[node, n_reachable, harmonic] — exact harmonic centrality of
    the undirected simple graph: H(u) = Σ_{v≠u, reachable} 1/d(u,v) —
    the closeness variant that stays meaningful on disconnected
    webgraphs (unreachable pairs contribute 0 instead of poisoning the
    mean).

    All-pairs distances by MIN-PLUS DOUBLING: D ← min(D, D ⊕ D) per
    round, so reach doubles and convergence takes ⌈log₂ diam⌉ rounds
    of one self-join + one min-agg (``localCheckpoint`` per round),
    never diam sequential sweeps.  The all-pairs table is |V|² at
    worst — the HOST graph is a dim table (hosts ≪ documents, the same
    dim-sized argument as dissolve's driver union-find); a
    billion-node webgraph would swap this for HyperBall/HLL
    neighbourhood sketches, which is an approximation with a different
    contract.  Each 1/d term is the same IEEE double in both engines,
    1e-9-quantized before the per-node integer sum (the
    outlink-entropy convention)."""
    und = _undirected(edges, src_col, dst_col)
    d = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .withColumn("d", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    # (pairs, Σd) of each round, computed once and carried
    sig = [(d.count(), d.agg(F.sum("d")).collect()[0][0])]

    def square(d: DataFrame, _: int) -> DataFrame:
        l = d.select(F.col("u"), F.col("v").alias("m"), F.col("d").alias("d1"))
        r = d.select(F.col("u").alias("m"), F.col("v"), F.col("d").alias("d2"))
        ext = (
            l.join(r, "m")
            .filter(F.col("u") != F.col("v"))
            .select("u", "v", (F.col("d1") + F.col("d2")).alias("d"))
        )
        return d.unionByName(ext).groupBy("u", "v").agg(F.min("d").alias("d"))

    def stable(_: DataFrame, nd: DataFrame) -> bool:
        sig.append((nd.count(), nd.agg(F.sum("d")).collect()[0][0]))
        return sig[-1] == sig[-2]

    d = fixpoint(d, square, max_rounds, stable)
    return d.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
        F.round(
            F.sum(
                F.floor((F.lit(1.0) / F.col("d").cast("double")) * 1e9
                        + F.lit(0.5)).cast("long")
            ).cast("double") / 1e9 + F.lit(0.0),
            6,
        ).alias("harmonic"),
    )


def harmonic_oracle_tail(e0: str, rounds: int) -> str:
    """Min-plus-doubling CTE chain over ``e0 (a, b)`` — the DuckDB
    twin of :func:`harmonic_centrality`, unrolled ``rounds`` times
    (idempotent once converged; callers over-provision vs
    ⌈log₂ diam⌉).  MATERIALIZED per round — DuckDB inlines CTEs by
    default and the chain references each round twice."""
    parts = [
        f"""d0 AS MATERIALIZED (
  SELECT a AS u, b AS v, CAST(1 AS BIGINT) AS d FROM {e0}
  UNION ALL
  SELECT b AS u, a AS v, CAST(1 AS BIGINT) AS d FROM {e0}
)"""
    ]
    for i in range(rounds):
        parts.append(
            f"""d{i + 1} AS MATERIALIZED (
  SELECT u, v, min(d) AS d FROM (
    SELECT u, v, d FROM d{i}
    UNION ALL
    SELECT l.u, r.v, l.d + r.d AS d
    FROM d{i} l JOIN d{i} r ON l.v = r.u
    WHERE l.u <> r.v
  ) GROUP BY u, v
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT u AS node, CAST(count(*) AS BIGINT) AS n_reachable,
       round(CAST(sum(CAST(floor((1.0 / CAST(d AS DOUBLE)) * 1000000000.0
                                 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000000.0 + 0.0, 6) AS harmonic
FROM d{rounds} GROUP BY u"""
    )


def _closure_square(r: DataFrame, _: int) -> DataFrame:
    """One transitive-closure squaring round R ← distinct(R ∪ R∘R)."""
    l = r.select(F.col("u"), F.col("v").alias("m"))
    rt = r.select(F.col("u").alias("m"), F.col("v"))
    return r.unionByName(l.join(rt, "m").select("u", "v")).distinct()


def scc_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 12,
) -> DataFrame:
    """[node, scc_id, scc_size] — strongly connected components of the
    directed simple graph: scc_id is the smallest node id mutually
    reachable from the member (self included), the canonical label for
    link-farm / crawl-frontier cycle detection next to the k-core and
    k-truss backbones (the reference has no graph surface at all; this
    serves the webgraph half of the graft).

    Reachability by TRANSITIVE-CLOSURE SQUARING: seed R with the edge
    set plus the identity pairs, then R ← distinct(R ∪ R∘R) per round,
    so reach doubles and convergence takes ⌈log₂ diam⌉ rounds of one
    self-join + distinct (``localCheckpoint`` per round — the
    plan-lineage rule).  SCC membership is then one hash join of R
    against its own transpose (mutual pairs) and a min-agg; sizes come
    from a window over the dim-sized (node, scc_id) frame.  The
    closure table is |V|·reach ≤ |V|² — the HOST graph is a dim table
    (hosts ≪ documents, the same argument as harmonic_centrality); a
    billion-node webgraph would swap this for FW-BW pivot
    decomposition or label propagation with path halving, a different
    contract.  Tarjan/Kosaraju are inherently sequential DFS — the
    squaring formulation is the distributed-native equivalent."""
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
    )
    r = (
        e.unionByName(
            nodes.select(F.col("n").alias("u"), F.col("n").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    # after k squarings R holds every path of length ≤ 2^k; diameter
    # ≤ |V| − 1, so ⌈log₂|V|⌉ rounds suffice — no per-round count jobs
    n_nodes = nodes.count()
    rounds = min(max_rounds, max(1, math.ceil(math.log2(max(2, n_nodes)))))
    r = fixpoint(r, _closure_square, rounds)
    mutual = r.join(
        r.select(F.col("v").alias("u"), F.col("u").alias("v")),
        ["u", "v"],
        "left_semi",
    )
    sid = mutual.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("scc_id")
    )
    w = Window.partitionBy("scc_id")
    return sid.select(
        "node", "scc_id", F.count(F.lit(1)).over(w).cast("long").alias("scc_size")
    )


def boruvka_mst(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    w_col: str = "w4",
    max_rounds: int = 40,
) -> DataFrame:
    """[u, v, w4] — the minimum spanning forest of an undirected
    weighted graph by distributed Borůvka: every round each component
    picks its cheapest outgoing edge (exact integer weights, total
    order (w, u, v) so the MSF is UNIQUE), the chosen edges merge
    components, and the component count at least halves — O(log n)
    rounds of pure DataFrame ops, the textbook MST shape for a graph
    that fits no single machine (Borůvka 1926; the same round
    structure GraphX/GBBS use).

    ``edges`` must be canonical undirected pairs (u < v) with int64
    weights; ties are impossible once (w, u, v) breaks them, so
    Borůvka here equals Kruskal equals Prim — the property the
    single-threaded Prim oracle relies on.

    Scale: each round is two shuffle joins of the edge table to the
    (node → component) map, one per-component min_by aggregation
    (map-side combinable), and a component-graph contraction whose CC
    runs on the CHOSEN edges only (≤ one per component — the adaptive
    driver/distributed switch in operators/dissolve).  The component
    map is localCheckpoint'd per round (CLAUDE.md: iterative loops
    must cut lineage).  Candidate-edge generation is the caller's
    job — at web scale feed cell-bucketed kNN candidates, not the
    all-pairs this gate's 80-patch dim allows."""
    from ..operators.dissolve import connected_components

    spark = edges.sparkSession
    e = edges.select(
        F.col(u_col).cast("long").alias("u"),
        F.col(v_col).cast("long").alias("v"),
        F.col(w_col).cast("long").alias("w4"),
    ).localCheckpoint()
    comp = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
        .select("n", F.col("n").alias("comp"))
        .localCheckpoint()
    )
    mst = spark.createDataFrame([], "u long, v long, w4 long")
    key = F.struct(F.col("w4"), F.col("u"), F.col("v"))

    def merge(state: tuple, _: int) -> tuple:
        comp, mst = state
        ec = (
            e.join(comp.select(F.col("n").alias("u"),
                               F.col("comp").alias("cu")), "u")
            .join(comp.select(F.col("n").alias("v"),
                              F.col("comp").alias("cv")), "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        cand = ec.select(F.col("cu").alias("c"), "u", "v", "w4",
                         "cu", "cv").unionByName(
            ec.select(F.col("cv").alias("c"), "u", "v", "w4", "cu", "cv")
        )
        sel = cand.groupBy("c").agg(
            F.min_by(F.struct("u", "v", "w4", "cu", "cv"), key).alias("e")
        ).select("e.u", "e.v", "e.w4", "e.cu", "e.cv")
        chosen = sel.dropDuplicates(["u", "v"]).localCheckpoint()
        if chosen.isEmpty():
            return state
        cnodes = comp.select(F.col("comp").alias("gs_id")).distinct()
        cedges = chosen.select(F.col("cu").alias("a"),
                               F.col("cv").alias("b"))
        cc = connected_components(cnodes, cedges, key="gs_id")
        comp = comp.join(
            cc.select(F.col("gs_id").alias("comp"),
                      F.col("comp").alias("newc")),
            "comp",
        ).select("n", F.col("newc").alias("comp"))
        return comp, mst.unionByName(chosen.select("u", "v", "w4"))

    return fixpoint((comp, mst), merge, max_rounds)[1]


def _brandes(
    und: DataFrame, max_depth: int, last: int, terms: list | None = None
) -> tuple:
    """The all-sources Brandes sweep over the undirected pairs
    ``und (a, b)`` shared by :func:`betweenness_centrality` and
    :func:`edge_betweenness`; returns (nodes [u], the dependency frame
    [s, v, sigma, dq] of every folded level).

    Forward: BFS levels [s, v, sigma] from (s, s, 1) until a level
    comes out empty; the visited set trails one level behind the
    frontier, so each round builds it from checkpointed frames only.
    Backward: the dependency fold from the deepest level down to level
    ``last``, each term (σ_v/σ_w)·(1 + δ_w) on one fixed IEEE chain and
    1e-9-quantized BEFORE its sum.  With ``terms`` given, every round's
    checkpointed term frame [s, v, vw, tq] is appended to it."""
    adj = (
        und.select(F.col("a").alias("u"), F.col("b").alias("w"))
        .unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("w")))
        .localCheckpoint()
    )
    nodes = adj.select("u").distinct().localCheckpoint()
    lv0 = nodes.select(
        F.col("u").alias("s"), F.col("u").alias("v"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    levels = [lv0]

    def expand(state: tuple, _: int) -> tuple:
        cur, seen = state  # seen: every level before cur
        seen = cur.select("s", "v") if seen is None else seen.unionByName(
            cur.select("s", "v")
        )
        cand = cur.join(adj, cur["v"] == adj["u"]).select(
            "s", F.col("w").alias("v"), "sigma"
        )
        nxt = (
            cand.join(seen, ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        return nxt, seen

    def record(_: tuple, state: tuple) -> bool:
        if state[0].isEmpty():
            return True
        levels.append(state[0])
        return False

    fixpoint((lv0, None), expand, max_depth, record)

    def fold(delta: DataFrame, r: int) -> DataFrame:
        p = levels[len(levels) - 2 - r]
        succ = (
            p.join(adj, p["v"] == adj["u"])
            .select("s", "v", "sigma", F.col("w").alias("vw"))
            .join(
                delta.select(
                    F.col("s").alias("s2"), F.col("v").alias("vw2"),
                    F.col("sigma").alias("sw"), F.col("dq").alias("dqw"),
                ),
                (F.col("s") == F.col("s2")) & (F.col("vw") == F.col("vw2")),
            )
        )
        ratio = F.col("sigma").cast("double") / F.col("sw").cast("double")
        fac = F.lit(1.0) + F.col("dqw").cast("double") / 1000000000.0
        term = F.floor(ratio * fac * 1000000000.0 + F.lit(0.5)).cast("long")
        tq = succ.select("s", "v", "vw", term.alias("tq"))
        if terms is not None:
            tq = tq.localCheckpoint()  # read by contrib and by the caller
            terms.append(tq)
        contrib = tq.groupBy("s", "v").agg(F.sum("tq").cast("long").alias("dq"))
        return p.join(contrib, ["s", "v"], "left").select(
            "s", "v", "sigma",
            F.coalesce("dq", F.lit(0)).cast("long").alias("dq"),
        )

    deltas = [
        levels[-1].select(
            "s", "v", "sigma", F.lit(0).cast("long").alias("dq")
        ).localCheckpoint()
    ]
    fixpoint(
        deltas[0], fold, len(levels) - 1 - last, lambda _, d: deltas.append(d)
    )
    return nodes, deltas


def betweenness_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 20,
) -> DataFrame:
    """[node, betweenness] — EXACT shortest-path betweenness of the
    undirected simple graph by a distributed Brandes sweep (Brandes
    2001) run from ALL sources simultaneously: the forward pass is a
    level-synchronous BFS over a (source, node) frontier table that
    accumulates exact int64 path counts σ, the backward pass folds
    dependencies δ level by level down the shortest-path DAG, and
    BC(v) = Σ_s δ_s(v) / 2 (each unordered pair counted once).

    The frontier keyed by (s, v) is the textbook way to batch |V|
    BFS-es into O(diameter) joins instead of |V| sequential sweeps —
    each round is one join of the frontier to the adjacency list, one
    anti-join against the visited set, one (s,v)-keyed σ-sum, all
    localCheckpoint'd; state is ≤|V|² rows (the dim-sized host-graph
    argument, same as harmonic_centrality; a billion-node graph swaps
    this for pivot-sampled approximation, a different contract).

    Exactness: σ are exact int64; each dependency term
    (σ_v/σ_w)·(1 + δ_w) is evaluated on ONE fixed IEEE chain and
    1e-9-quantized to int64 BEFORE the per-node sum (summation-order
    free), so the oracle's unrolled CTE chain reproduces every round
    bit-for-bit."""
    und = _undirected(edges, src_col, dst_col)
    nodes, deltas = _brandes(und, max_depth, 1)
    acc = deltas[0].select("v", "dq")
    for d in deltas[1:]:
        acc = acc.unionByName(d.select("v", "dq"))
    agg = acc.groupBy("v").agg(F.sum("dq").cast("long").alias("tq"))
    return nodes.join(agg, nodes["u"] == agg["v"], "left").select(
        F.col("u").alias("node"),
        (F.coalesce("tq", F.lit(0)).cast("double") / 1000000000.0 / 2.0)
        .alias("betweenness"),
    )


def betweenness_oracle_tail(e0: str, rounds: int) -> str:
    """Unrolled Brandes CTE chain over ``e0 (a, b)`` — the DuckDB twin
    of :func:`betweenness_centrality`: ``rounds`` BFS levels (σ path
    counts), then the dependency fold back down, every round
    MATERIALIZED (idempotent once levels go empty; callers
    over-provision vs the measured diameter)."""
    parts = [
        f"""badj AS MATERIALIZED (
  SELECT a AS u, b AS w FROM {e0} UNION ALL SELECT b AS u, a AS w FROM {e0}
),
bnodes AS MATERIALIZED (SELECT DISTINCT u FROM badj),
blv0 AS MATERIALIZED (
  SELECT u AS s, u AS v, CAST(1 AS BIGINT) AS sigma FROM bnodes
),
bvis0 AS MATERIALIZED (SELECT s, v FROM blv0)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""blv{i} AS MATERIALIZED (
  SELECT c.s, c.w AS v, CAST(sum(c.sigma) AS BIGINT) AS sigma FROM (
    SELECT p.s, a.w, p.sigma FROM blv{i - 1} p JOIN badj a ON a.u = p.v
  ) c LEFT JOIN bvis{i - 1} x ON x.s = c.s AND x.v = c.w
  WHERE x.v IS NULL GROUP BY c.s, c.w
),
bvis{i} AS MATERIALIZED (
  SELECT s, v FROM bvis{i - 1} UNION ALL SELECT s, v FROM blv{i}
)"""
        )
    parts.append(
        f"""bd{rounds} AS MATERIALIZED (
  SELECT s, v, sigma, CAST(0 AS BIGINT) AS dq FROM blv{rounds}
)"""
    )
    for L in range(rounds - 1, 0, -1):
        parts.append(
            f"""bd{L} AS MATERIALIZED (
  SELECT p.s, p.v, p.sigma,
         CAST(COALESCE(sum(
           CAST(floor((CAST(p.sigma AS DOUBLE) / CAST(q.sigma AS DOUBLE))
                * (1.0 + CAST(q.dq AS DOUBLE) / 1000000000.0)
                * 1000000000.0 + 0.5) AS BIGINT)
         ), 0) AS BIGINT) AS dq
  FROM blv{L} p
  LEFT JOIN badj a ON a.u = p.v
  LEFT JOIN bd{L + 1} q ON q.s = p.s AND q.v = a.w
  GROUP BY p.s, p.v, p.sigma
)"""
        )
    alld = " UNION ALL ".join(
        f"SELECT v, dq FROM bd{i}" for i in range(1, rounds + 1)
    )
    return (
        ",\n".join(parts)
        + f""",
balld AS ({alld}),
bagg AS (SELECT v, CAST(sum(dq) AS BIGINT) AS tq FROM balld GROUP BY v)
SELECT n.u AS node,
       CAST(COALESCE(b.tq, 0) AS DOUBLE) / 1000000000.0 / 2.0 AS betweenness
FROM bnodes n LEFT JOIN bagg b ON b.v = n.u"""
    )


def rich_club(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """[k, n_nodes, n_edges, phi] — rich-club coefficient curve of the
    undirected simple graph (Zhou & Mondragón 2004): for every degree
    threshold k, the density φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) of
    the subgraph induced by nodes with degree > k — "do the hubs wire
    to each other?", the elite-interconnection diagnostic beside
    q_degree_assortativity's single number.

    All counts exact int64 via suffix sums over the degree histogram
    (nodes) and the min-endpoint-degree histogram (edges) — never a
    per-k subgraph scan; one double division per row.  Rows with
    N_{>k} < 2 are dropped (undefined density)."""
    # consumed by degrees AND the edge re-join
    und = _undirected(edges, src_col, dst_col).localCheckpoint()
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint()  # histogram + two edge joins
    )
    ks = deg.select(F.col("d").alias("k")).distinct().unionByName(
        und.sparkSession.createDataFrame([(0,)], "k long")
    ).distinct()
    dh = deg.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    em = (
        und.join(deg.select(F.col("n").alias("a"),
                            F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"),
                         F.col("d").alias("db")), "b")
        .select(F.least("da", "db").alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("ne"))
    )
    nodes_gt = ks.join(dh, dh["d"] > ks["k"]).groupBy("k").agg(
        F.sum("nd").cast("long").alias("n_nodes")
    )
    edges_gt = ks.join(em, em["m"] > ks["k"]).groupBy("k").agg(
        F.sum("ne").cast("long").alias("n_edges")
    )
    return (
        nodes_gt.join(edges_gt, "k", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k", "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            (
                (2 * F.coalesce("n_edges", F.lit(0))).cast("double")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)).cast("double")
            ).alias("phi"),
        )
    )


def powerlaw_alpha(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row [n_nodes, sum_lnq, alpha] — continuous-MLE power-law
    exponent of the undirected degree distribution with d_min = 1
    (Clauset-Shalizi-Newman 2009 eq. 3.1): α = 1 + n / Σ ln(d_i) —
    the scale-free-ness readout of the host graph that complements
    the rich-club curve.  Each ln(d) is 1e-9-quantized to int64 on the
    shared libm expression before the sum (order-free); a degenerate
    all-degree-1 graph → NULL."""
    und = _undirected(edges, src_col, dst_col)
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    s = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(
            F.floor(F.log(F.col("d").cast("double")) * 1000000000.0
                    + F.lit(0.5)).cast("long")
        ).cast("long").alias("sum_lnq"),
    )
    return s.select(
        "n_nodes", "sum_lnq",
        F.when(F.col("sum_lnq") <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.lit(1.0)
            + F.col("n_nodes").cast("double")
            / (F.col("sum_lnq").cast("double") / 1000000000.0)
        ).alias("alpha"),
    )


def edge_betweenness(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_depth: int = 20,
) -> DataFrame:
    """[a, b, ebc] — EXACT shortest-path EDGE betweenness of the
    undirected simple graph (the Girvan–Newman community-detection
    splitting criterion): the same distributed all-sources Brandes
    sweep as :func:`betweenness_centrality`, but the backward pass
    credits each dependency term (σ_v/σ_w)·(1+δ_w) to the DAG edge
    (v, w) it flows through instead of to the node — EBC{v,w} =
    Σ_s terms / 2.  Bridges score the full pair count that crosses
    them; intra-clique edges score low.

    Exactness and shape identical to the node variant: exact int64 σ,
    every term 1e-9-quantized on one fixed IEEE chain BEFORE its sum
    (order-free), level-synchronous BFS state ≤ |V|² (dim-sized host
    graph), localCheckpoint per round."""
    # consumed by adj AND the final edge join
    und = _undirected(edges, src_col, dst_col).localCheckpoint()
    terms = []
    _brandes(und, max_depth, 0, terms)
    edge_parts = [
        t.select(
            F.least("v", "vw").alias("a"), F.greatest("v", "vw").alias("b"), "tq"
        )
        for t in terms
    ]
    acc = edge_parts[0]
    for d in edge_parts[1:]:
        acc = acc.unionByName(d)
    return (
        acc.groupBy("a", "b")
        .agg(F.sum("tq").cast("long").alias("tq"))
        .join(und, ["a", "b"], "right")
        .select(
            "a", "b",
            (F.coalesce("tq", F.lit(0)).cast("double")
             / 1000000000.0 / 2.0).alias("ebc"),
        )
    )


def edge_betweenness_oracle_tail(e0: str, rounds: int) -> str:
    """Unrolled Girvan–Newman edge-betweenness CTE chain over
    ``e0 (a, b)`` — the DuckDB twin of :func:`edge_betweenness`:
    reuses the node oracle's BFS levels, then credits each per-level
    dependency term to its DAG edge."""
    head = betweenness_oracle_tail(e0, rounds)
    # keep everything up to (excluding) the final SELECT of the node
    # variant; the bd{L} CTEs and blv{L} levels are what we need.
    head = head[: head.index(",\nballd AS (")]
    parts = [head]
    ebs = []
    for L in range(rounds - 1, -1, -1):
        nxt = f"bd{L + 1}" if L + 1 <= rounds else None
        parts.append(
            f""",
bee{L} AS MATERIALIZED (
  SELECT least(p.v, a.w) AS ea, greatest(p.v, a.w) AS eb,
         CAST(floor((CAST(p.sigma AS DOUBLE) / CAST(q.sigma AS DOUBLE))
              * (1.0 + CAST(q.dq AS DOUBLE) / 1000000000.0)
              * 1000000000.0 + 0.5) AS BIGINT) AS tq
  FROM blv{L} p
  JOIN badj a ON a.u = p.v
  JOIN bd{L + 1} q ON q.s = p.s AND q.v = a.w
)"""
        )
        ebs.append(f"SELECT ea, eb, tq FROM bee{L}")
    union = " UNION ALL ".join(ebs)
    parts.append(
        f""",
beall AS ({union}),
beagg AS (SELECT ea, eb, CAST(sum(tq) AS BIGINT) AS tq
          FROM beall GROUP BY ea, eb)
SELECT e.a, e.b,
       CAST(COALESCE(g.tq, 0) AS DOUBLE) / 1000000000.0 / 2.0 AS ebc
FROM {e0} e LEFT JOIN beagg g ON g.ea = e.a AND g.eb = e.b"""
    )
    return "".join(parts)


def weighted_pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """[node, rank] — damped PageRank over WEIGHTED directed edges
    (contribution r·w_ij/W_i with W_i the src's total out-weight),
    the TextRank/co-citation-strength variant of :func:`pagerank`:
    same quantized-round contract — per-edge contributions round to
    pico-ints before the sum, rank vectors round-9 per round — so the
    iteration is exactly reproducible across engines.  Dangling mass
    redistributes uniformly.  One broadcast-free equi-join + one
    groupBy per round; rank/edge frames localCheckpoint per round
    (the lineage rule)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        F.col(w_col).cast("long").alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    ws = e.groupBy("src").agg(F.sum("w").cast("long").alias("ws"))
    eo = e.join(ws, "src").localCheckpoint()
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 9).alias("r"))
    base = (1.0 - damping) / n
    ranks = _rank_rounds(
        ranks, nodes, eo, ws, F.col("r") * F.col("w") / F.col("ws"),
        base
        + damping * (F.coalesce("s", F.lit(0)) / PICO)
        + damping * (F.col("dgp") / PICO) / n,
        n_iters,
    )
    return ranks.select("node", F.col("r").alias("rank"))


def weighted_pagerank_oracle_sql(
    edges_cte: str,
    n_iters: int = 3,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of :func:`weighted_pagerank`: identical quantized
    rounds unrolled (MATERIALIZED per the iterative-oracle rule).
    ``edges_cte`` must select (src, dst, w)."""
    d = damping
    ctes = [
        f"WITH e AS MATERIALIZED ({edges_cte})",
        "ws AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ws "
        "FROM e GROUP BY src)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "n AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT node, round(1.0 / n.n, 9) AS r"
        " FROM nodes CROSS JOIN n)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(round(r{p}.r * e.w / ws.ws * 1000000000000.0) AS BIGINT) AS c
  FROM e JOIN r{p} ON e.src = r{p}.node JOIN ws ON ws.src = e.src
)"""
        )
        ctes.append(
            f"s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node)"
        )
        ctes.append(
            f"""dg{i} AS (
  SELECT coalesce(sum(CAST(round(r{p}.r * 1000000000000.0) AS BIGINT)), 0)
           AS dgp
  FROM r{p} LEFT JOIN ws ON r{p}.node = ws.src WHERE ws.src IS NULL
)"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT nodes.node,
         round((1.0 - {d}) / n.n
               + {d} * (coalesce(s{i}.s, 0) / 1000000000000.0)
               + {d} * (dg{i}.dgp / 1000000000000.0) / n.n, 9) AS r
  FROM nodes LEFT JOIN s{i} ON nodes.node = s{i}.node
  CROSS JOIN n CROSS JOIN dg{i}
)"""
        )
    return (
        ",\n".join(ctes) + f"\nSELECT node, r AS rank FROM r{n_iters}"
    )


def square_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """One row [n_nodes, n_edges, n_diag_pairs, n_squares] — exact
    4-cycle (square) count of the undirected simple graph: with
    cn(u,w) the common-neighbour count of a vertex pair,
    #C4 = ½·Σ_{u<w} C(cn, 2) (every square is counted once per
    diagonal, and it has two).  Squares are the motif one step past
    q_triangles — bipartite-ish link farms are triangle-FREE but
    square-HEAVY, so the C4/C3 ratio separates organic host graphs
    from mutual-promotion rings.

    Exactness: pure integer counting end to end.  Shape: wedge
    enumeration via one center-keyed self-join (Σdeg² work — the same
    envelope as the clustering-coefficient family; at webgraph scale
    the hub-cap/oriented variants bound it), one (u,w) groupBy, one
    1-row reduction."""
    und = _undirected(edges, src_col, dst_col)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    wedges = (
        both.select(F.col("a").alias("c"), F.col("b").alias("u"))
        .join(
            both.select(F.col("a").alias("c"), F.col("b").alias("w")), "c"
        )
        .filter(F.col("u") < F.col("w"))
    )
    cn = wedges.groupBy("u", "w").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    stats = cn.agg(
        F.count(F.lit(1)).cast("long").alias("n_diag_pairs"),
        (F.sum(F.col("cn") * (F.col("cn") - 1)) / 4).cast("long")
        .alias("n_squares"),
    )
    sizes = und.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
    ).crossJoin(
        both.select("a").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        )
    )
    return sizes.crossJoin(F.broadcast(stats)).select(
        "n_nodes", "n_edges", "n_diag_pairs", "n_squares"
    )


def attribute_assortativity(
    edges: DataFrame,
    src_cat_col: str = "src_cat",
    dst_cat_col: str = "dst_cat",
) -> DataFrame:
    """One row [n_edges, same_cat, r] — Newman's CATEGORICAL
    assortativity over directed edges labelled with endpoint
    categories: with the mixing matrix e_ij (edge counts), row sums
    a_i and column sums b_i, r = (m·Σe_ii − Σa_i·b_i)/(m² − Σa_i·b_i)
    — the discrete-attribute companion of degree assortativity ("do
    same-language hosts link to each other?"), exact integers up to
    the one final division (shipped unrounded)."""
    e = edges.select(
        F.col(src_cat_col).alias("ci"), F.col(dst_cat_col).alias("cj")
    )
    m = e.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.when(F.col("ci") == F.col("cj"), 1).otherwise(0))
        .cast("long").alias("same_cat"),
    )
    a = e.groupBy(F.col("ci").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("ai")
    )
    b = e.groupBy(F.col("cj").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("bi")
    )
    ab = (
        a.join(b, "c", "full")
        .select(
            (F.coalesce("ai", F.lit(0)) * F.coalesce("bi", F.lit(0))).alias("p")
        )
        .agg(F.sum("p").cast("long").alias("sab"))
    )
    j = m.crossJoin(F.broadcast(ab))
    num = (F.col("m") * F.col("same_cat") - F.col("sab")).cast("double")
    den = (F.col("m") * F.col("m") - F.col("sab")).cast("double")
    return j.select(
        F.col("m").alias("n_edges"),
        "same_cat",
        F.when(den == 0.0, F.lit(None).cast("double"))
        .otherwise(num / den).alias("r"),
    )


def bowtie_decomposition(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 12,
    full: bool = False,
) -> DataFrame:
    """[host, region, core_id, core_size] — the Broder et al. (2000)
    bow-tie decomposition of a directed graph: CORE = the largest SCC
    (tie → smallest label), OUT = reachable FROM the core, IN = nodes
    that REACH the core, OTHER = everything else (tendrils, tubes,
    disconnected islands — not split further).  The canonical
    macro-structure readout of a crawl frontier: a healthy web snapshot
    has a dominant CORE; a seed list that only ever lands in OUT can
    never crawl back.

    ``full=True`` completes the Broder taxonomy by sub-splitting OTHER:
    TUBE = on an IN→OUT path that avoids the core (reachable from IN
    AND reaches OUT), TENDRIL_IN = hangs off IN (reachable from IN
    only), TENDRIL_OUT = feeds OUT (reaches OUT only), DISC = neither
    reachable from IN nor reaching OUT.  NOTE this DISC rule is a
    reachability-based approximation of Broder's DISCONNECTED (which is
    defined by WEAK connectivity): a fringe node whose only edge points
    INTO a tendril is weakly connected to the bow tie yet lands in DISC
    here.  The DuckDB oracle mirrors the same rule, so the gate is
    self-consistent; a faithful split would add one undirected
    connected-components pass.  Plain reachability suffices for
    the avoid-the-core condition: an OTHER node's witness path from IN
    can never pass through CORE (it would make the node OUT), and
    symmetrically for paths to OUT — so the sub-split is two extra
    semi-joins against the same closure, no new reachability pass.

    Shares the transitive-closure-squaring reachability of
    :func:`scc_components` (⌈log₂ diam⌉ self-join rounds,
    localCheckpoint per round); region assignment is then two
    semi-joins against the closure restricted to core rows.  Host
    graphs are dim tables (hosts ≪ documents); a billion-node graph
    swaps the closure for frontier BFS from the core — documented,
    different contract."""
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
    )
    r = (
        e.unionByName(
            nodes.select(F.col("n").alias("u"), F.col("n").alias("v"))
        )
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    rounds = min(max_rounds, max(1, math.ceil(math.log2(max(2, n_nodes)))))
    r = fixpoint(r, _closure_square, rounds)
    mutual = r.join(
        r.select(F.col("v").alias("u"), F.col("u").alias("v")),
        ["u", "v"],
        "left_semi",
    )
    sid = mutual.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("scc_id")
    )
    sizes = sid.groupBy("scc_id").agg(F.count(F.lit(1)).alias("sz"))
    core = (
        sizes.orderBy(F.desc("sz"), F.asc("scc_id"))
        .limit(1)
        .select(F.col("scc_id").alias("core_id"),
                F.col("sz").cast("long").alias("core_size"))
        .localCheckpoint()
    )
    lab = sid.crossJoin(F.broadcast(core))
    core_members = lab.filter(F.col("scc_id") == F.col("core_id")).select(
        F.col("node").alias("c")
    )
    from_core = (
        r.join(core_members, r["u"] == core_members["c"], "left_semi")
        .select(F.col("v").alias("node")).distinct()
        .withColumn("_out", F.lit(1))
    )
    to_core = (
        r.join(core_members, r["v"] == core_members["c"], "left_semi")
        .select(F.col("u").alias("node")).distinct()
        .withColumn("_in", F.lit(1))
    )
    tagged = lab.join(from_core, "node", "left").join(to_core, "node", "left")
    if not full:
        return tagged.select(
            F.col("node").alias("host"),
            F.when(F.col("scc_id") == F.col("core_id"), F.lit("CORE"))
            .when(F.col("_in").isNotNull(), F.lit("IN"))
            .when(F.col("_out").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("OTHER")).alias("region"),
            "core_id", "core_size",
        )
    # IN / OUT member sets (region semantics: core excluded — a node
    # mutually reachable with the core IS the core)
    inn = to_core.select("node").join(
        core_members.withColumnRenamed("c", "node"), "node", "left_anti"
    )
    outn = from_core.select("node").join(
        core_members.withColumnRenamed("c", "node"), "node", "left_anti"
    )
    reach_from_in = (
        r.join(inn.withColumnRenamed("node", "u"), "u", "left_semi")
        .select(F.col("v").alias("node")).distinct()
        .withColumn("_fi", F.lit(1))
    )
    reaches_out = (
        r.join(outn.withColumnRenamed("node", "v"), "v", "left_semi")
        .select(F.col("u").alias("node")).distinct()
        .withColumn("_to", F.lit(1))
    )
    return (
        tagged.join(reach_from_in, "node", "left")
        .join(reaches_out, "node", "left")
        .select(
            F.col("node").alias("host"),
            F.when(F.col("scc_id") == F.col("core_id"), F.lit("CORE"))
            .when(F.col("_in").isNotNull(), F.lit("IN"))
            .when(F.col("_out").isNotNull(), F.lit("OUT"))
            .when(
                F.col("_fi").isNotNull() & F.col("_to").isNotNull(), F.lit("TUBE")
            )
            .when(F.col("_fi").isNotNull(), F.lit("TENDRIL_IN"))
            .when(F.col("_to").isNotNull(), F.lit("TENDRIL_OUT"))
            .otherwise(F.lit("DISC")).alias("region"),
            "core_id", "core_size",
        )
    )


# ---------------------------------------------------------------------------
# HyperBall approximate harmonic centrality (Boldi-Vigna 2013)
# ---------------------------------------------------------------------------

HB_M = 16          # HLL registers per node (p=4, alpha=0.673)
HB_ALPHA = 0.673   # standard HLL bias constant for m=16
HB_MAXRANK = 20    # rank cap (P[rank>20] ~ 1e-6 per element)
HB_EQ = 1_000_000  # estimate micro-grid


def _hb_rank_case_sql(h2: str) -> str:
    """Trailing-zero rank ladder (rank = t+1) as portable integer
    CASE — no log2/bit intrinsics, identical semantics both engines."""
    branches = [f"WHEN {h2} = 0 THEN {HB_MAXRANK + 1}"]
    for k in range(1, HB_MAXRANK + 1):
        branches.append(f"WHEN {h2} % {1 << k} = {1 << (k - 1)} THEN {k}")
    return "CASE " + " ".join(branches) + f" ELSE {HB_MAXRANK + 1} END"


def _hb_rank_col(h2):
    expr = F.when(h2 == 0, F.lit(HB_MAXRANK + 1))
    for k in range(1, HB_MAXRANK + 1):
        expr = expr.when(h2 % (1 << k) == (1 << (k - 1)), F.lit(k))
    return expr.otherwise(F.lit(HB_MAXRANK + 1))


def hyperball_harmonic(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 6,
) -> DataFrame:
    """[node, ball_q, harm_q] — APPROXIMATE harmonic centrality by
    HyperBall (Boldi & Vigna 2013): each node carries an m=16 HLL
    sketch of its ball; one round merges every neighbour's sketch by
    element-wise register max, so after r rounds the sketch estimates
    |B(v, r)| and h(v) ≈ Σ_r (|B(v,r)| − |B(v,r−1)|)/r.  This is the
    web-scale swap documented in :func:`harmonic_centrality`: the
    exact min-plus closure is |V|² state, HyperBall is m·|V| integers
    per round — register max-merge is associative/commutative, so the
    shuffle is a plain partial-aggregated groupBy and a billion-node
    graph costs rounds × one shuffle of 16|V| small rows.

    Engine-portable by construction: registers come from md5 of the
    node key (index = low bits, rank = trailing-zero ladder — pure
    integer CASE, no bit intrinsics), merge is integer MAX, and the
    only floating point is the final estimate alpha·m²/Σ2^−M[j]
    (a sum of ≤16 dyadic rationals — exact in double) with standard
    linear-counting small-range correction, floored to a micro-grid.
    The harmonic fold is a FIXED-ORDER expression over the quantized
    per-round estimates (d₁/1 + … + d_R/R written out literally), so
    no aggregate summation order exists anywhere.  Undirected graph
    (symmetrized), matching :func:`harmonic_centrality`'s convention;
    truncation at ``rounds`` is part of the operator's definition
    (and of the oracle's)."""
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes = sym.select(F.col("a").alias("node")).distinct()

    h = F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    # h is up to 60 bits: h/16 MUST stay integer (double division would
    # round away the low bits and inflate every trailing-zero rank —
    # caught by the pure-Python mirror in tests)
    regs = nodes.select(
        "node",
        (h % HB_M).cast("int").alias("j"),
        _hb_rank_col(F.shiftright(h, 4)).cast("int").alias("reg"),
    ).localCheckpoint()

    def estimate(r: DataFrame) -> DataFrame:
        per = r.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("s_nz"),
        )
        S = (F.lit(float(HB_M)) - F.col("cnt").cast("double")) + F.col("s_nz")
        raw = F.lit(HB_ALPHA * HB_M * HB_M) / S
        v0 = (F.lit(HB_M) - F.col("cnt")).cast("double")
        est = F.when(
            (raw <= F.lit(2.5 * HB_M)) & (F.col("cnt") < HB_M),
            F.lit(float(HB_M)) * F.log(F.lit(float(HB_M)) / v0),
        ).otherwise(raw)
        return per.select(
            "node",
            F.floor(est * HB_EQ + F.lit(0.5)).cast("long").alias("eq"),
        )

    def merge(cur: DataFrame, _: int) -> DataFrame:
        return (
            sym.join(cur.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), "j", "reg")
            .unionByName(cur)
            .groupBy("node", "j")
            .agg(F.max("reg").cast("int").alias("reg"))
        )

    balls = [regs]
    fixpoint(regs, merge, rounds, lambda _, cur: balls.append(cur))
    ests = [
        estimate(b).withColumnRenamed("eq", f"eq{t}") for t, b in enumerate(balls)
    ]

    out = ests[0]
    for t in range(1, rounds + 1):
        out = out.join(ests[t], "node")
    # fixed-order harmonic fold over integer micro-estimates: each term
    # is an int64 difference divided by a literal — no SUM aggregate
    harm = None
    for t in range(1, rounds + 1):
        term = (F.col(f"eq{t}") - F.col(f"eq{t - 1}")).cast("double") / F.lit(
            float(t)
        )
        harm = term if harm is None else harm + term
    return out.select(
        "node",
        F.col(f"eq{rounds}").alias("ball_q"),
        F.floor(harm + F.lit(0.5)).cast("long").alias("harm_q"),
    )


def hyperball_oracle_sql(edges_cte: str, rounds: int = 6) -> str:
    """DuckDB twin of :func:`hyperball_harmonic` — identical rounds
    unrolled as MATERIALIZED CTEs, emitted as a CTE TAIL (no leading
    WITH, same contract as harmonic_oracle_tail) so callers can
    prepend their own edge-producing CTEs.  ``edges_cte`` must select
    directed string columns ``src, dst`` (symmetrized/deduped
    here)."""
    m, alpha, EQ = HB_M, HB_ALPHA, HB_EQ
    rank = _hb_rank_case_sql("(h // 16)")  # BIGINT floor div — exact
    parts = [
        f"de AS MATERIALIZED ({edges_cte})",
        """e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM de WHERE src <> dst
)""",
        """sym AS MATERIALIZED (
  SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
)""",
        """nd AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym)""",
        f"""r0 AS MATERIALIZED (
  SELECT node,
         CAST(h % {m} AS INTEGER) AS j,
         CAST({rank} AS INTEGER) AS reg
  FROM (SELECT node,
               CAST(CAST('0x' || substr(md5(node), 1, 15) AS UBIGINT)
                    AS BIGINT) AS h
        FROM nd)
)""",
    ]
    est = (
        f"""(SELECT node,
        CAST(floor(
          CASE WHEN ({alpha!r} * {m * m}) /
                    (({m}.0 - CAST(cnt AS DOUBLE)) + s_nz) <= {2.5 * m!r}
                AND cnt < {m}
               THEN {m}.0 * ln({m}.0 / ({m} - cnt))
               ELSE ({alpha!r} * {m * m}) /
                    (({m}.0 - CAST(cnt AS DOUBLE)) + s_nz)
          END * {EQ} + 0.5) AS BIGINT) AS eq
  FROM (SELECT node, CAST(count(*) AS BIGINT) AS cnt,
               sum(power(2.0, -reg)) AS s_nz
        FROM rSRC GROUP BY node))"""
    )
    for t in range(rounds + 1):
        if t > 0:
            parts.append(
                f"""r{t} AS MATERIALIZED (
  SELECT node, j, CAST(max(reg) AS INTEGER) AS reg FROM (
    SELECT sym.b AS node, r.j, r.reg FROM sym JOIN r{t - 1} r ON r.node = sym.a
    UNION ALL
    SELECT node, j, reg FROM r{t - 1}
  ) GROUP BY node, j
)"""
            )
        parts.append(f"est{t} AS MATERIALIZED {est.replace('rSRC', f'r{t}')}")
    harm = " + ".join(
        f"CAST(q{t}.eq - q{t - 1}.eq AS DOUBLE) / {float(t)!r}"
        for t in range(1, rounds + 1)
    )
    joins = "".join(
        f" JOIN est{t} q{t} ON q{t}.node = q0.node" for t in range(1, rounds + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT q0.node, q{rounds}.eq AS ball_q,
       CAST(floor(({harm}) + 0.5) AS BIGINT) AS harm_q
FROM est0 q0{joins}
"""
    )


# ---------------------------------------------------------------------------
# Deterministic synchronous Louvain (two-level, integer-exact gains)
# ---------------------------------------------------------------------------


def _louvain_phase(und: DataFrame, selfw: DataFrame | None, rounds: int) -> DataFrame:
    """One Louvain level: ``rounds`` SYNCHRONIZED local-move rounds over
    the weighted undirected graph ``und``[a, b, w] (a<b, no self loops)
    with optional supernode self-loops ``selfw``[i, sw].  Returns the
    community map [i, c].

    Determinism contract: every modularity-gain comparison is the
    integer 2m·w_{i→c} − k_i·Σtot_c (no FP anywhere), argmax breaks
    ties by smallest community label, a move needs a STRICT improvement
    over staying (with i removed from its own community), and all
    ELIGIBLE nodes move simultaneously — so the result is a pure
    function of the graph, never of visit order.  Eligibility is an
    8-bit round colouring: each node's ``par`` is the first md5 byte of
    its label (``conv(substring(md5(i), 1, 2), 16, 10)``), and round r
    moves only nodes whose bit ``r mod 8`` of ``par`` is set.
    Unrestricted simultaneous moves label-swap forever on symmetric
    motifs (two nodes adopting each other's community every round —
    observed on a plain triangle); with 8 independent colourings two
    adjacent nodes share every colour only with probability 1/256, so
    some round moves one endpoint without the other.  Colouring is the
    standard mitigation distributed Louvain implementations use, and
    the md5 byte is portable to the DuckDB oracle.  Fixed round count,
    one localCheckpoint per round (the iterative-lineage rule).
    """
    sym = und.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "w"
    ).unionByName(und.select(F.col("b").alias("i"), F.col("a").alias("j"), "w"))
    nodes = sym.select("i").distinct()
    if selfw is not None:
        nodes = nodes.unionByName(selfw.select("i")).distinct()
    kdeg = sym.groupBy("i").agg(F.sum("w").cast("long").alias("k"))
    if selfw is not None:
        kdeg = (
            nodes.join(kdeg, "i", "left")
            .join(selfw, "i", "left")
            .select(
                "i",
                (F.coalesce(F.col("k"), F.lit(0))
                 + 2 * F.coalesce(F.col("sw"), F.lit(0))).cast("long").alias("k"),
            )
        )
    kdeg = kdeg.withColumn(
        # 8 independent md5 colorings (one bit per round mod 8): two
        # adjacent nodes share EVERY color with prob 1/256, so the
        # synchronous-swap deadlock a single parity cannot break (both
        # endpoints same color ⇒ they co-move and adopt each other's
        # community forever) resolves in some round for essentially
        # every pair
        "par", F.conv(F.substring(F.md5(F.col("i")), 1, 2), 16, 10).cast("long")
    ).localCheckpoint()
    # 2m as a driver-side scalar literal (one 1-row aggregate collect —
    # bounded like the repo's other driver-literal constants).  The
    # earlier broadcast-aggregate crossJoin form embedded the exchange
    # subquery twice per round and drove Catalyst's plan-stats
    # estimation into an OOM at 6+ rounds.
    m2 = int(kdeg.agg(F.sum("k")).collect()[0][0] or 0)

    def move(comm: DataFrame, r: int) -> DataFrame:
        tot = comm.join(kdeg, "i").groupBy("c").agg(
            F.sum("k").cast("long").alias("tot")
        )
        nbr = (
            sym.join(comm.select(F.col("i").alias("j"), F.col("c").alias("cj")), "j")
            .groupBy("i", "cj")
            .agg(F.sum("w").cast("long").alias("wic"))
        ).localCheckpoint()  # consumed by base (wia), cand — and cheap
        base = (
            comm.join(kdeg, "i")
            .join(tot, "c")
            .join(
                nbr.select("i", F.col("cj").alias("c"), F.col("wic").alias("wia")),
                ["i", "c"], "left",
            )
            .select(
                "i", F.col("c").alias("ca"), "k", F.col("tot").alias("tota"),
                F.coalesce("wia", F.lit(0)).alias("wia"),
            )
        )
        cand = (
            nbr.join(comm, "i")
            .filter(F.col("cj") != F.col("c"))
            .join(kdeg, "i")
            .join(tot.select(F.col("c").alias("cj"), "tot"), "cj")
            .select(
                "i", "cj",
                (F.lit(m2) * F.col("wic") - F.col("k") * F.col("tot"))
                .cast("long").alias("g"),
            )
        )
        w = Window.partitionBy("i").orderBy(F.col("g").desc(), F.col("cj").asc())
        best = cand.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        ).select("i", "cj", "g")
        return (
            base.join(best, "i", "left")
            .join(kdeg.select("i", "par"), "i")
            .select(
                "i",
                F.when(
                    (F.col("par").bitwiseAND(F.lit(1 << (r % 8))) != 0)
                    & (
                        F.col("g")
                        > F.lit(m2) * F.col("wia")
                        - F.col("k") * (F.col("tota") - F.col("k"))
                    ),
                    F.col("cj"),
                ).otherwise(F.col("ca")).alias("c"),
            )
        )

    comm = localcheckpoint_fresh(kdeg.select("i", F.col("i").alias("c")))
    return fixpoint(comm, move, rounds)


def louvain_sync(
    edges: DataFrame,
    rounds1: int = 6,
    rounds2: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """[host, community] — two-level deterministic SYNCHRONOUS Louvain
    community detection over the undirected simple host graph: level 1
    runs ``rounds1`` synchronized move rounds on unit weights, the
    partition contracts to a weighted supernode graph (inter-community
    weights summed, intra-community weight becoming self-loops that
    ride in the degree but never in the neighbour gains), and level 2
    runs ``rounds2`` more rounds there; hosts inherit their
    supernode's final community.

    This is the distributed formulation production systems use
    (synchronous rounds instead of Louvain's sequential sweep — the
    sequential variant is visit-order-dependent and therefore
    unbenchmarkable cross-engine; the ROADMAP triage condition was
    exactly "a deterministic synchronous variant with an oracle").
    Total weight 2m is invariant under contraction, so one broadcast
    scalar serves both levels.  Known synchronous caveat (documented,
    shared by every bulk-parallel Louvain): simultaneous moves can
    oscillate label-swaps instead of converging — the fixed round
    count makes the output well-defined regardless, and modularity of
    the result is graded by the q_modularity machinery, not assumed.

    Scale: every round is two hash aggregations (Σtot dim-sized,
    neighbour-community weights edge-sized) + one window over per-node
    candidate lists — no collect, no all-pairs; the contracted level
    operates on the community dim.  Oracle:
    :func:`louvain_oracle_tail` unrolls the SAME integer rounds as
    MATERIALIZED CTEs.
    """
    und = (
        _undirected(edges, src_col, dst_col)
        .withColumn("w", F.lit(1).cast("long"))
        .localCheckpoint()  # consumed by level 1 AND the contraction
    )
    c1 = _louvain_phase(und, None, rounds1)
    e2 = (
        und.join(c1.select(F.col("i").alias("a"), F.col("c").alias("ca")), "a")
        .join(c1.select(F.col("i").alias("b"), F.col("c").alias("cb")), "b")
    ).localCheckpoint()
    und2 = (
        e2.filter(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("a"), F.greatest("ca", "cb").alias("b"), "w"
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("long").alias("w"))
        # community-dim frames, referenced many times inside level 2
        # (sym union + degree + every round) — checkpoint or the plan's
        # stats estimation blows the driver heap (BigInteger sizeInBytes
        # products over the repeated subtrees; observed OOM at 6 rounds)
        .localCheckpoint()
    )
    selfw2 = (
        e2.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("i"))
        .agg(F.sum("w").cast("long").alias("sw"))
        .localCheckpoint()
    )
    c2 = _louvain_phase(und2, selfw2, rounds2)
    return (
        c1.join(c2.select(F.col("i").alias("c"), F.col("c").alias("community")),
                "c")
        .select(F.col("i").alias("host"), "community")
    )


def louvain_oracle_tail(u0: str, rounds1: int = 6, rounds2: int = 4) -> str:
    """DuckDB twin of :func:`louvain_sync`: the same synchronized
    integer-gain rounds unrolled as MATERIALIZED CTEs (the k-truss /
    Brandes oracle device) over an undirected edge CTE ``u0(a, b)``.
    Returns the SQL tail (appended after a WITH chain ending in u0)."""

    def phase(p: str, src_edges: str, selfw: str | None, rounds: int) -> list[str]:
        parts = [
            f"sym{p} AS MATERIALIZED ("
            f"SELECT a AS i, b AS j, w FROM {src_edges} "
            f"UNION ALL SELECT b, a, w FROM {src_edges})",
        ]
        if selfw is None:
            parts.append(
                f"k{p} AS MATERIALIZED (SELECT i, CAST(sum(w) AS BIGINT) AS k "
                f"FROM sym{p} GROUP BY i)"
            )
        else:
            parts.append(
                f"""k{p} AS MATERIALIZED (
  SELECT n.i, CAST(coalesce(d.k, 0) + 2 * coalesce(s.sw, 0) AS BIGINT) AS k
  FROM (SELECT DISTINCT i FROM (SELECT i FROM sym{p}
        UNION ALL SELECT i FROM {selfw})) n
  LEFT JOIN (SELECT i, sum(w) AS k FROM sym{p} GROUP BY i) d ON d.i = n.i
  LEFT JOIN {selfw} s ON s.i = n.i)"""
            )
        parts.append(
            f"par{p} AS MATERIALIZED (SELECT i, "
            f"CAST(('0x' || substr(md5(i), 1, 2)) AS UBIGINT) AS par "
            f"FROM k{p})"
        )
        parts.append(
            f"c{p}_0 AS MATERIALIZED (SELECT i, i AS c FROM k{p})"
        )
        for r in range(rounds):
            parts.append(
                f"""tot{p}_{r} AS MATERIALIZED (
  SELECT c.c, CAST(sum(k.k) AS BIGINT) AS tot
  FROM c{p}_{r} c JOIN k{p} k ON k.i = c.i GROUP BY c.c)"""
            )
            parts.append(
                f"""nbr{p}_{r} AS MATERIALIZED (
  SELECT s.i, cj.c AS cj, CAST(sum(s.w) AS BIGINT) AS wic
  FROM sym{p} s JOIN c{p}_{r} cj ON cj.i = s.j GROUP BY s.i, cj.c)"""
            )
            parts.append(
                f"""best{p}_{r} AS MATERIALIZED (
  SELECT i, cj, g FROM (
    SELECT n.i, n.cj,
           CAST(m2.m2 * n.wic - k.k * t.tot AS BIGINT) AS g,
           row_number() OVER (
             PARTITION BY n.i
             ORDER BY m2.m2 * n.wic - k.k * t.tot DESC, n.cj ASC) AS rn
    FROM nbr{p}_{r} n
    JOIN c{p}_{r} c ON c.i = n.i AND c.c <> n.cj
    JOIN k{p} k ON k.i = n.i
    JOIN tot{p}_{r} t ON t.c = n.cj
    CROSS JOIN m2) WHERE rn = 1)"""
            )
            parts.append(
                f"""c{p}_{r + 1} AS MATERIALIZED (
  SELECT b.i,
         CASE WHEN (pr.par & {1 << (r % 8)}) <> 0
               AND bst.g > m2.m2 * b.wia - b.k * (b.tota - b.k)
              THEN bst.cj ELSE b.ca END AS c
  FROM (SELECT c.i, c.c AS ca, k.k, t.tot AS tota,
               coalesce(n.wic, 0) AS wia
        FROM c{p}_{r} c
        JOIN k{p} k ON k.i = c.i
        JOIN tot{p}_{r} t ON t.c = c.c
        LEFT JOIN nbr{p}_{r} n ON n.i = c.i AND n.cj = c.c) b
  JOIN par{p} pr ON pr.i = b.i
  LEFT JOIN best{p}_{r} bst ON bst.i = b.i
  CROSS JOIN m2)"""
            )
        return parts

    parts = [f"uw0 AS MATERIALIZED (SELECT a, b, CAST(1 AS BIGINT) AS w FROM {u0})"]
    parts += phase("0", "uw0", None, 0)[:2]  # sym0 + k0 only, for m2
    parts.append("m2 AS MATERIALIZED (SELECT CAST(sum(k) AS BIGINT) AS m2 FROM k0)")
    # re-run phase 0 fully (its sym0/k0 parts duplicate names — build
    # the phase rounds only, reusing the sym0/k0 above)
    parts += phase("0", "uw0", None, rounds1)[2:]
    parts.append(
        f"""cm AS MATERIALIZED (SELECT i, c FROM c0_{rounds1})"""
    )
    parts.append(
        """u1 AS MATERIALIZED (
  SELECT least(x.c, y.c) AS a, greatest(x.c, y.c) AS b,
         CAST(sum(u.w) AS BIGINT) AS w
  FROM uw0 u JOIN cm x ON x.i = u.a JOIN cm y ON y.i = u.b
  WHERE x.c <> y.c GROUP BY 1, 2)"""
    )
    parts.append(
        """sw1 AS MATERIALIZED (
  SELECT x.c AS i, CAST(sum(u.w) AS BIGINT) AS sw
  FROM uw0 u JOIN cm x ON x.i = u.a JOIN cm y ON y.i = u.b
  WHERE x.c = y.c GROUP BY x.c)"""
    )
    parts += phase("1", "u1", "sw1", rounds2)
    return (
        ",\n".join(parts)
        + f"""
SELECT cm.i AS host, c1_{rounds2}.c AS community
FROM cm JOIN c1_{rounds2} ON c1_{rounds2}.i = cm.c
"""
    )
