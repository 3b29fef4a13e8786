"""Distributed quantized k-means over embedding columns.

Lloyd's algorithm with two determinism devices that make the *iterative*
computation exactly reproducible across engines (and therefore
SQL-oracle-checkable — rare for iterative ML):

- **quantized updates**: every centroid coordinate is rounded to 6 dp
  after each mean update, and every point-centroid distance is rounded
  to 6 dp before the argmin (ties break by centroid id) — FP summation
  order can no longer flip an assignment;
- **deterministic init**: centroids start as the vectors with
  ``id < k`` (the same device the IVF coarse quantizer uses).

Shapes: the centroid table is k rows — it broadcasts; assignment is a
map-side crossJoin + windowless argmin per point (row_number over a
k-row partition); the update is one posexplode→groupBy(avg) per round
(partial aggregation, single shuffle of (cluster, dim) partials).  The
driver collects nothing.  Empty clusters keep their previous centroid.

At 100 TB the per-point k×dim distance arithmetic moves into the BLAS
``mapInPandas`` kernel exactly like similarity.cosine_topk — the
relational form here is the oracle-parity reference implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint


def _sqdist(vcol, ccol):
    return F.round(
        F.aggregate(
            F.zip_with(vcol, ccol, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def kmeans_fit_predict(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[id, cluster] — assignment after ``iters`` quantized Lloyd rounds
    (a final assignment pass runs against the last updated centroids)."""
    v = df.select(
        id_col, F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("v")
    )
    cents = _lloyd_centroids(v, k, iters, id_col)
    w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cid").asc())
    return (
        v.crossJoin(F.broadcast(cents))
        .withColumn("_d", _sqdist(F.col("v"), F.col("cv")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("cid").alias("cluster"))
    )


# shared round-6 squared-distance expression of the oracle chain
_SQ = (
    "round(list_sum(list_transform(list_zip(v.v, c.cv), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)"
)


def _assign_cte(name: str, cents: str) -> str:
    return f"""{name} AS (
  SELECT vec_id, cid, v FROM (
    SELECT v.vec_id, c.cid, v.v,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_SQ} ASC, c.cid ASC) AS rn
    FROM v, {cents} c) WHERE rn = 1
)"""


def _lloyd_ctes(k: int, iters: int, dim: int, table: str) -> list[str]:
    """The quantized Lloyd rounds as a CTE chain ending at ``c{iters}``
    (final centroids) — shared by the kmeans and silhouette oracles."""
    parts = [
        f"WITH v AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v FROM {table})",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < {k})",
    ]
    for it in range(iters):
        parts.append(_assign_cte(f"a{it}", f"c{it}"))
        parts.append(
            f"""d{it} AS (
  SELECT cid, i.range AS pos, round(avg(v[i.range]), 6) AS cval
  FROM a{it}, range(1, {dim + 1}) i GROUP BY cid, i.range
)"""
        )
        parts.append(
            f"u{it} AS (SELECT cid, list(cval ORDER BY pos) AS cv FROM d{it} GROUP BY cid)"
        )
        parts.append(
            f"""c{it + 1} AS (
  SELECT c.cid, coalesce(u.cv, c.cv) AS cv
  FROM c{it} c LEFT JOIN u{it} u ON u.cid = c.cid
)"""
        )
    return parts


def kmeans_oracle_sql(
    k: int = 4, iters: int = 2, dim: int = 64, table: str = "embeddings"
) -> str:
    """The identical quantized Lloyd rounds as one DuckDB SQL string
    (CTE per round, unrolled) — exact-match oracle for
    :func:`kmeans_fit_predict`."""
    parts = _lloyd_ctes(k, iters, dim, table)
    parts.append(_assign_cte("afinal", f"c{iters}"))
    return ",\n".join(parts) + "\nSELECT vec_id, cid AS cluster FROM afinal"


def simplified_silhouette(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[cluster, n_points, mean_sil] — simplified (centroid-based)
    silhouette of the quantized k-means clustering: per point
    a = ‖x − own centroid‖, b = min over OTHER centroids, and since
    b ≥ a always, s = (b − a)/max(a, b) = 1 − a/b (0 when b = 0).
    The O(n·k) centroid-distance form of the O(n²) silhouette — the
    only variant a 100 TB corpus can afford (scikit-learn's
    "simplified silhouette"; Hruschka et al. 2004).

    Determinism: a and b are sqrt of the SAME round-6 squared
    distances the assignment ranks on (sqrt is correctly-rounded IEEE
    — bit-identical across engines); each point's s quantizes to
    1e-9-int BEFORE the per-cluster mean so summation order can never
    move the rounded result (the outlink-entropy convention)."""
    v = df.select(
        id_col, F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("v")
    )
    cents = _lloyd_centroids(v, k, iters, id_col)
    w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cid").asc())
    top2 = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("_d", _sqdist(F.col("v"), F.col("cv")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .groupBy(id_col)
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("cid"))).alias("cluster"),
            F.sqrt(F.max(F.when(F.col("_rn") == 1, F.col("_d")))).alias("a"),
            F.sqrt(F.max(F.when(F.col("_rn") == 2, F.col("_d")))).alias("b"),
        )
    )
    s = F.when(F.col("b") == 0.0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.col("b")
    )
    q = top2.select("cluster", F.floor(s * 1e9 + F.lit(0.5)).cast("long").alias("sq"))
    return q.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(
            F.sum("sq").cast("double") / F.count(F.lit(1)) / 1e9 + F.lit(0.0), 6
        ).alias("mean_sil"),
    )


def _lloyd_centroids(v: DataFrame, k: int, iters: int, id_col: str) -> DataFrame:
    """[cid, cv] — final centroids after ``iters`` quantized rounds
    (the loop body of :func:`kmeans_fit_predict`, shared)."""
    cents = v.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), F.col("v").alias("cv")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cid").asc())

    def step(cents: DataFrame, _: int) -> DataFrame:
        asg = (
            v.crossJoin(F.broadcast(cents))
            .withColumn("_d", _sqdist(F.col("v"), F.col("cv")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, "cid", "v")
        )
        dims = asg.select("cid", F.posexplode("v").alias("pos", "val"))
        upd = (
            dims.groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("cval"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv_new")
            )
        )
        return cents.join(upd, "cid", "left").select(
            "cid", F.coalesce(F.col("cv_new"), F.col("cv")).alias("cv")
        )

    return fixpoint(cents, step, iters)


def silhouette_oracle_sql(
    k: int = 4, iters: int = 2, dim: int = 64, table: str = "embeddings"
) -> str:
    """Exact-match oracle for :func:`simplified_silhouette` — the
    shared Lloyd CTE chain plus a rank-≤2 distance pivot."""
    parts = _lloyd_ctes(k, iters, dim, table)
    parts.append(
        f"""sil AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cid END) AS cluster,
         sqrt(max(CASE WHEN rn = 1 THEN d END)) AS a,
         sqrt(max(CASE WHEN rn = 2 THEN d END)) AS b
  FROM (SELECT v.vec_id, c.cid, {_SQ} AS d,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY {_SQ} ASC, c.cid ASC) AS rn
        FROM v, c{iters} c) WHERE rn <= 2
  GROUP BY vec_id
)""",
        )
    parts.append(
        """q AS (
  SELECT cluster,
         CAST(floor((CASE WHEN b = 0 THEN 0.0 ELSE (b - a) / b END)
                    * 1000000000.0 + 0.5) AS BIGINT) AS sq
  FROM sil
)""",
    )
    return (
        ",\n".join(parts)
        + "\nSELECT cluster, CAST(count(*) AS BIGINT) AS n_points,"
        + "\n       round(CAST(sum(sq) AS DOUBLE) / count(*) / 1000000000.0 + 0.0, 6)"
        + " AS mean_sil\nFROM q GROUP BY cluster"
    )


EM_L_Q = 1_000_000       # λ micro-grid
EM_R_Q = 1_000_000_000   # responsibility nano-grid


def em_poisson2(
    df: DataFrame,
    x_col: str,
    iters: int = 3,
    init: tuple = (100.0, 400.0, 0.5),
) -> DataFrame:
    """[k, lambda_q, pi_q, lam, pi, n_hard] — two-component Poisson
    mixture fitted by EM on an integer count column, fully quantized so
    the ITERATION is exactly reproducible across engines (the same two
    devices as quantized k-means / the linear SVM):

    - E-step: each document's component-2 responsibility
      r = sigmoid(x·(ln λ₂ − ln λ₁) − (λ₂ − λ₁) + ln(π₂/π₁)) is
      computed from the micro-grid parameters and floored to an
      integer nanoshare r_q ∈ [0, 10⁹] — after that every M-step sum
      is exact int64;
    - M-step: λ_k = Σ r_q·x / Σ r_q re-quantized to the micro-grid,
      π₂ = Σ r_q / (N·10⁹) to the nano-grid.

    The canonical latent-variable trainer beside k-means (hard
    assignments) and naive Bayes (supervised): document-length mixtures
    are the classic "two populations in one crawl" diagnostic.
    ``n_hard`` counts documents whose responsibility passes ½ —
    decided by the pure integer test r_q > 5·10⁸.

    Shape per round: one broadcast of the 1-row parameter frame, one
    map-side E-step expression, one exact aggregation;
    localCheckpoint per round (the lineage rule)."""
    spark = df.sparkSession
    l1, l2, p2 = init
    params = spark.createDataFrame(
        [(int(round(l1 * EM_L_Q)), int(round(l2 * EM_L_Q)),
          int(round(p2 * EM_R_Q)))],
        "l1q long, l2q long, p2q long",
    )
    x = F.col(x_col).cast("long")

    def step(params: DataFrame, _: int) -> DataFrame:
        lam1 = F.col("l1q").cast("double") / EM_L_Q
        lam2 = F.col("l2q").cast("double") / EM_L_Q
        pi2 = F.col("p2q").cast("double") / EM_R_Q
        s = (
            x.cast("double") * (F.log(lam2) - F.log(lam1))
            - (lam2 - lam1)
            + (F.log(pi2) - F.log(F.lit(1.0) - pi2))
        )
        r2 = F.lit(1.0) / (F.lit(1.0) + F.exp(-s))
        e = df.crossJoin(F.broadcast(params)).select(
            x.alias("x"),
            F.floor(r2 * F.lit(float(EM_R_Q)) + F.lit(0.5))
            .cast("long").alias("rq"),
        )
        agg = e.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rq").cast("long").alias("n2q"),
            F.sum(F.col("rq") * F.col("x")).cast("long").alias("sx2q"),
            F.sum((F.lit(EM_R_Q) - F.col("rq")) * F.col("x"))
            .cast("long").alias("sx1q"),
        )
        return agg.select(
            F.floor(
                F.col("sx1q").cast("double")
                / (F.col("n").cast("double") * EM_R_Q - F.col("n2q").cast("double"))
                * EM_L_Q + F.lit(0.5)
            ).cast("long").alias("l1q"),
            F.floor(
                F.col("sx2q").cast("double") / F.col("n2q").cast("double")
                * EM_L_Q + F.lit(0.5)
            ).cast("long").alias("l2q"),
            F.floor(
                F.col("n2q").cast("double")
                / (F.col("n").cast("double") * EM_R_Q)
                * EM_R_Q + F.lit(0.5)
            ).cast("long").alias("p2q"),
        )

    params = fixpoint(params, step, iters)
    lam1 = F.col("l1q").cast("double") / EM_L_Q
    lam2 = F.col("l2q").cast("double") / EM_L_Q
    pi2 = F.col("p2q").cast("double") / EM_R_Q
    s = (
        x.cast("double") * (F.log(lam2) - F.log(lam1))
        - (lam2 - lam1)
        + (F.log(pi2) - F.log(F.lit(1.0) - pi2))
    )
    r2 = F.lit(1.0) / (F.lit(1.0) + F.exp(-s))
    hard = df.crossJoin(F.broadcast(params)).select(
        F.floor(r2 * F.lit(float(EM_R_Q)) + F.lit(0.5))
        .cast("long").alias("rq"),
    ).agg(
        F.sum(F.when(F.col("rq") > EM_R_Q // 2, 1).otherwise(0))
        .cast("long").alias("h2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    out = params.crossJoin(F.broadcast(hard))
    one = out.select(
        F.lit(1).cast("long").alias("k"),
        F.col("l1q").alias("lambda_q"),
        (F.lit(EM_R_Q) - F.col("p2q")).cast("long").alias("pi_q"),
        (F.col("l1q").cast("double") / EM_L_Q).alias("lam"),
        ((F.lit(EM_R_Q) - F.col("p2q")).cast("double") / EM_R_Q).alias("pi"),
        (F.col("n") - F.col("h2")).cast("long").alias("n_hard"),
    )
    two = out.select(
        F.lit(2).cast("long").alias("k"),
        F.col("l2q").alias("lambda_q"),
        F.col("p2q").alias("pi_q"),
        (F.col("l2q").cast("double") / EM_L_Q).alias("lam"),
        (F.col("p2q").cast("double") / EM_R_Q).alias("pi"),
        F.col("h2").alias("n_hard"),
    )
    return one.unionByName(two)


def em_poisson2_oracle_sql(
    values_cte: str,
    iters: int = 3,
    init: tuple = (100.0, 400.0, 0.5),
) -> str:
    """DuckDB twin of :func:`em_poisson2` — identical quantized rounds
    unrolled as MATERIALIZED CTEs.  ``values_cte`` must select a single
    BIGINT column ``x``."""
    l1, l2, p2 = init
    parts = [
        f"WITH v AS MATERIALIZED ({values_cte})",
        f"p0 AS (SELECT CAST({int(round(l1 * EM_L_Q))} AS BIGINT) AS l1q, "
        f"CAST({int(round(l2 * EM_L_Q))} AS BIGINT) AS l2q, "
        f"CAST({int(round(p2 * EM_R_Q))} AS BIGINT) AS p2q)",
    ]
    sig = (
        "1.0 / (1.0 + exp(-(CAST(v.x AS DOUBLE)"
        " * (ln(CAST(p{t}.l2q AS DOUBLE) / {LQ})"
        "    - ln(CAST(p{t}.l1q AS DOUBLE) / {LQ}))"
        " - (CAST(p{t}.l2q AS DOUBLE) / {LQ}"
        "    - CAST(p{t}.l1q AS DOUBLE) / {LQ})"
        " + (ln(CAST(p{t}.p2q AS DOUBLE) / {RQ})"
        "    - ln(1.0 - CAST(p{t}.p2q AS DOUBLE) / {RQ})))))"
    )
    for t in range(iters):
        r2 = sig.format(t=t, LQ=f"{EM_L_Q}.0", RQ=f"{EM_R_Q}.0")
        parts.append(
            f"""e{t} AS MATERIALIZED (
  SELECT v.x,
         CAST(floor({r2} * {EM_R_Q}.0 + 0.5) AS BIGINT) AS rq
  FROM v, p{t}
)"""
        )
        parts.append(
            f"""a{t} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rq) AS BIGINT) AS n2q,
         CAST(sum(rq * x) AS BIGINT) AS sx2q,
         CAST(sum(({EM_R_Q} - rq) * x) AS BIGINT) AS sx1q
  FROM e{t}
)"""
        )
        parts.append(
            f"""p{t + 1} AS (
  SELECT CAST(floor(CAST(sx1q AS DOUBLE)
         / (CAST(n AS DOUBLE) * {EM_R_Q} - CAST(n2q AS DOUBLE))
         * {EM_L_Q} + 0.5) AS BIGINT) AS l1q,
         CAST(floor(CAST(sx2q AS DOUBLE) / CAST(n2q AS DOUBLE)
         * {EM_L_Q} + 0.5) AS BIGINT) AS l2q,
         CAST(floor(CAST(n2q AS DOUBLE)
         / (CAST(n AS DOUBLE) * {EM_R_Q})
         * {EM_R_Q} + 0.5) AS BIGINT) AS p2q
  FROM a{t}
)"""
        )
    rf = sig.format(t=iters, LQ=f"{EM_L_Q}.0", RQ=f"{EM_R_Q}.0")
    parts.append(
        f"""hf AS (
  SELECT CAST(sum(CASE WHEN CAST(floor({rf} * {EM_R_Q}.0 + 0.5) AS BIGINT)
                       > {EM_R_Q // 2} THEN 1 ELSE 0 END) AS BIGINT) AS h2,
         CAST(count(*) AS BIGINT) AS n
  FROM v, p{iters}
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT CAST(1 AS BIGINT) AS k, l1q AS lambda_q,
       CAST({EM_R_Q} - p2q AS BIGINT) AS pi_q,
       CAST(l1q AS DOUBLE) / {EM_L_Q} AS lam,
       CAST({EM_R_Q} - p2q AS DOUBLE) / {EM_R_Q} AS pi,
       CAST(n - h2 AS BIGINT) AS n_hard
FROM p{iters}, hf
UNION ALL
SELECT CAST(2 AS BIGINT), l2q, p2q,
       CAST(l2q AS DOUBLE) / {EM_L_Q},
       CAST(p2q AS DOUBLE) / {EM_R_Q},
       h2
FROM p{iters}, hf
"""
    )


# ---------------------------------------------------------------------------
# ALS matrix factorization (rank-2, exact-integer normal equations)
# ---------------------------------------------------------------------------

ALS_Q = 1_000_000  # factor micro-grid


def als_factorize(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_cents: str = "rq",
    iters: int = 2,
    lam: float = 0.1,
) -> DataFrame:
    """[item, x1_q, x2_q, x1, x2, n_r, sse_cents2, n_total] — rank-2
    alternating least squares, the matrix-factorization trainer that
    completes the family beside k-means (hard), EM (soft) and the SVM
    (supervised).  Each half-step solves the per-entity ridge normal
    equations in CLOSED FORM (2×2 inverse), so no iterative inner
    solver exists to drift between engines.

    Engine-portability is the exact-integer-sums device (the
    Fellegi–Sunter / em_poisson2 contract, one step stronger): factors
    live on the ``ALS_Q`` micro-grid as int64, ratings enter as int64
    cents, and every normal-equation statistic (Σx₁², Σx₁x₂, Σx₂²,
    Σr·x₁, Σr·x₂) is an **exact int64 sum of int64 products** — FP
    summation order, the classic cross-engine ALS hazard, never
    arises.  The closed-form solve then runs on doubles derived from
    those exact integers (identical expression both engines) and
    re-quantizes.  The ridge λ > 0 bounds the determinant away from 0
    so the inverse is total.  Final SSE is integer too: per-row
    predictions are floored to cents before squaring.

    **int64 headroom bound**: Spark's non-ANSI long sum wraps silently
    while DuckDB sums BIGINT into HUGEINT (and the CAST back errors),
    so the exactness contract requires each per-entity product sum to
    FIT in int64: |rows per entity| · max(|factor_q|, |rq|)² < 2⁶³.
    Factors are re-quantized each half-step from a ridge solve whose
    magnitude is bounded by max|r|/ (2λ) ≈ 25·ALS_Q for 5-star cents
    ratings, so with ALS_Q = 1e6 the bound allows ≳ 10⁴ ratings/entity
    at factor magnitude 10⁸ — far above the fixture and any sane
    per-user volume; callers at ~1e18 product-sum scale must shrink
    ALS_Q or pre-aggregate.

    Scale shape per half-step: item factors are a dim table
    (catalog-sized) → broadcast-joined to the ratings; user factors
    scale with users → a shuffle equi-join on ``user_col``.  That IS
    production ALS's block structure (ratings partitioned by the
    grouping side, factors shipped to them); no step materializes
    anything driver-side, and localCheckpoint truncates the per-round
    lineage exactly like the other iterative trainers.
    """
    r = ratings.select(
        F.col(user_col).alias("u"),
        F.col(item_col).alias("i"),
        F.col(rating_cents).cast("long").alias("rq"),
    )
    # deterministic item-factor init on the grid (spread by small
    # coprime moduli so items start distinguishable)
    itemf = (
        r.select("i").distinct()
        .select(
            "i",
            (F.lit(ALS_Q) + (F.col("i") % 7) * (ALS_Q // 10))
            .cast("long").alias("x1q"),
            (F.lit(ALS_Q) - (F.col("i") % 5) * (ALS_Q // 10))
            .cast("long").alias("x2q"),
        )
        .localCheckpoint()
    )

    def solve(joined: DataFrame, key: str, f1: str, f2: str) -> DataFrame:
        """closed-form ridge solve per `key` given factor cols f1/f2
        (int64 micro-grid) and rq (cents) on the joined frame."""
        a = joined.groupBy(key).agg(
            F.sum(F.col(f1) * F.col(f1)).cast("long").alias("a11q"),
            F.sum(F.col(f1) * F.col(f2)).cast("long").alias("a12q"),
            F.sum(F.col(f2) * F.col(f2)).cast("long").alias("a22q"),
            F.sum(F.col("rq") * F.col(f1)).cast("long").alias("b1q"),
            F.sum(F.col("rq") * F.col(f2)).cast("long").alias("b2q"),
        )
        Q2 = float(ALS_Q) * float(ALS_Q)
        a11 = F.col("a11q").cast("double") / Q2 + F.lit(lam)
        a12 = F.col("a12q").cast("double") / Q2
        a22 = F.col("a22q").cast("double") / Q2 + F.lit(lam)
        b1 = F.col("b1q").cast("double") / (F.lit(100.0) * ALS_Q)
        b2 = F.col("b2q").cast("double") / (F.lit(100.0) * ALS_Q)
        det = a11 * a22 - a12 * a12
        w1 = (a22 * b1 - a12 * b2) / det
        w2 = (a11 * b2 - a12 * b1) / det
        return a.select(
            key,
            F.floor(w1 * ALS_Q + F.lit(0.5)).cast("long").alias("w1q"),
            F.floor(w2 * ALS_Q + F.lit(0.5)).cast("long").alias("w2q"),
        )

    def alternate(state: tuple, _: int) -> tuple:
        ju = r.join(F.broadcast(state[1]), "i")
        userf = (
            solve(ju, "u", "x1q", "x2q")
            .withColumnsRenamed({"w1q": "y1q", "w2q": "y2q"})
            .localCheckpoint()  # read by this round's item solve and returned
        )
        ji = r.join(userf, "u")
        itemf = solve(ji, "i", "y1q", "y2q").withColumnsRenamed(
            {"w1q": "x1q", "w2q": "x2q"}
        )
        return userf, itemf

    userf, itemf = fixpoint((None, itemf), alternate, iters)

    # integer SSE: prediction floored to cents per row, residual squared
    pred = (
        r.join(userf, "u").join(F.broadcast(itemf), "i")
        .select(
            "i", "rq",
            F.floor(
                (F.col("y1q").cast("double") * F.col("x1q").cast("double")
                 + F.col("y2q").cast("double") * F.col("x2q").cast("double"))
                / (F.lit(float(ALS_Q)) * ALS_Q) * 100.0 + F.lit(0.5)
            ).cast("long").alias("pq"),
        )
    )
    per_item = pred.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n_r"),
        F.sum((F.col("rq") - F.col("pq")) * (F.col("rq") - F.col("pq")))
        .cast("long").alias("sse_i"),
    )
    tot = per_item.agg(
        F.sum("sse_i").cast("long").alias("sse_cents2"),
        F.sum("n_r").cast("long").alias("n_total"),
    )
    return (
        itemf.join(per_item, "i")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("i").alias("item"),
            F.col("x1q").alias("x1_q"), F.col("x2q").alias("x2_q"),
            (F.col("x1q").cast("double") / ALS_Q).alias("x1"),
            (F.col("x2q").cast("double") / ALS_Q).alias("x2"),
            "n_r", "sse_cents2", "n_total",
        )
    )


def als_oracle_sql(
    ratings_cte: str,
    iters: int = 2,
    lam: float = 0.1,
) -> str:
    """DuckDB twin of :func:`als_factorize` — identical half-steps
    unrolled as MATERIALIZED CTEs.  ``ratings_cte`` must select columns
    ``u`` (BIGINT), ``i`` (BIGINT), ``rq`` (BIGINT cents)."""
    Q = ALS_Q
    Q2 = f"{float(Q) * float(Q)!r}"
    parts = [
        f"WITH v AS MATERIALIZED ({ratings_cte})",
        f"""i0 AS MATERIALIZED (
  SELECT i,
         CAST({Q} + (i % 7) * {Q // 10} AS BIGINT) AS x1q,
         CAST({Q} - (i % 5) * {Q // 10} AS BIGINT) AS x2q
  FROM (SELECT DISTINCT i FROM v)
)""",
    ]

    def solve(src: str, key: str, f1: str, f2: str, w1: str, w2: str) -> str:
        return f"""(
  SELECT {key},
         CAST(floor(((CAST(a22q AS DOUBLE) / {Q2} + {lam!r})
                      * (CAST(b1q AS DOUBLE) / (100.0 * {Q}))
                     - (CAST(a12q AS DOUBLE) / {Q2})
                      * (CAST(b2q AS DOUBLE) / (100.0 * {Q})))
                    / ((CAST(a11q AS DOUBLE) / {Q2} + {lam!r})
                       * (CAST(a22q AS DOUBLE) / {Q2} + {lam!r})
                       - (CAST(a12q AS DOUBLE) / {Q2})
                         * (CAST(a12q AS DOUBLE) / {Q2}))
                    * {Q} + 0.5) AS BIGINT) AS {w1},
         CAST(floor(((CAST(a11q AS DOUBLE) / {Q2} + {lam!r})
                      * (CAST(b2q AS DOUBLE) / (100.0 * {Q}))
                     - (CAST(a12q AS DOUBLE) / {Q2})
                      * (CAST(b1q AS DOUBLE) / (100.0 * {Q})))
                    / ((CAST(a11q AS DOUBLE) / {Q2} + {lam!r})
                       * (CAST(a22q AS DOUBLE) / {Q2} + {lam!r})
                       - (CAST(a12q AS DOUBLE) / {Q2})
                         * (CAST(a12q AS DOUBLE) / {Q2}))
                    * {Q} + 0.5) AS BIGINT) AS {w2}
  FROM (SELECT {key},
               CAST(sum({f1} * {f1}) AS BIGINT) AS a11q,
               CAST(sum({f1} * {f2}) AS BIGINT) AS a12q,
               CAST(sum({f2} * {f2}) AS BIGINT) AS a22q,
               CAST(sum(rq * {f1}) AS BIGINT) AS b1q,
               CAST(sum(rq * {f2}) AS BIGINT) AS b2q
        FROM {src} GROUP BY {key})
)"""

    for t in range(iters):
        parts.append(
            f"u{t} AS MATERIALIZED "
            + solve(f"(SELECT v.*, x1q, x2q FROM v JOIN i{t} USING (i))",
                    "u", "x1q", "x2q", "y1q", "y2q")
        )
        parts.append(
            f"i{t + 1} AS MATERIALIZED "
            + solve(f"(SELECT v.*, y1q, y2q FROM v JOIN u{t} USING (u))",
                    "i", "y1q", "y2q", "x1q", "x2q")
        )
    last_u, last_i = f"u{iters - 1}", f"i{iters}"
    parts.append(
        f"""pred AS MATERIALIZED (
  SELECT v.i, v.rq,
         CAST(floor((CAST(y1q AS DOUBLE) * CAST(x1q AS DOUBLE)
                     + CAST(y2q AS DOUBLE) * CAST(x2q AS DOUBLE))
                    / ({float(Q)!r} * {Q}) * 100.0 + 0.5) AS BIGINT) AS pq
  FROM v JOIN {last_u} USING (u) JOIN {last_i} USING (i)
)""",
    )
    parts.append(
        """pi AS MATERIALIZED (
  SELECT i, CAST(count(*) AS BIGINT) AS n_r,
         CAST(sum((rq - pq) * (rq - pq)) AS BIGINT) AS sse_i
  FROM pred GROUP BY i
)""",
    )
    parts.append(
        """tt AS (SELECT CAST(sum(sse_i) AS BIGINT) AS sse_cents2,
                CAST(sum(n_r) AS BIGINT) AS n_total FROM pi)""",
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT {last_i}.i AS item, x1q AS x1_q, x2q AS x2_q,
       CAST(x1q AS DOUBLE) / {Q} AS x1,
       CAST(x2q AS DOUBLE) / {Q} AS x2,
       n_r, sse_cents2, n_total
FROM {last_i} JOIN pi USING (i) CROSS JOIN tt
"""
    )
