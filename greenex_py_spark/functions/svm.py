"""Distributed linear SVM (hinge loss, full-batch subgradient) with
integer-quantized weights.

The trainer that completes the in-engine model-fitting family beside
kmeans (unsupervised) and naive Bayes (generative): a discriminative
classifier trained ON the cluster with no driver-side math.  The same
two determinism devices that make quantized k-means SQL-oracle-checkable
make this trainer exact across engines:

- **micro-unit weights**: w lives on the 1e-6 grid as int64 ``wq``
  (w = wq/1e6), so the margin test y·(w·x) < 1 is the PURE INTEGER
  comparison y·Σ wq[d]·x[d] < 10⁶ — FP can never flip which documents
  violate the margin;
- **rational hyper-parameters**: η = 1/2, λ = 1/8 give the update
  w′ = (15/16)·w + (η/n)·Σ_viol y·x, evaluated as
  wq′ = floor((wq·15)/16.0 + (g·10⁶)/(2.0·n) + 0.5) — /16.0 is a
  power-of-two (exact in IEEE), g and wq·15 are exact int64, and both
  engines floor the identical double.

Shapes at 100 TB: features are one map-side projection; each round is
one broadcast of the (dims+1)-element weight vector, a map-side
integer dot product, and a single groupBy(dim) shuffle of the
violator-gradient partials (map-side combinable).  The weight frame is
``localCheckpoint``-ed per round (the lineage rule).  T rounds = T
cheap shuffles; nothing is collected.

Reference parity: the reference repo has no trainer — this is a
beyond-reference LLM-curation operator (quality-classifier training à
la fastText-on-crawl), cited in SURVEY §2's pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint

SVM_SCALE = 1_000_000  # micro-unit weight grid


def svm_train(
    feats: DataFrame,
    n_dims: int,
    iters: int = 3,
    id_col: str = "doc_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """[dim, wq, w, n_correct, n_total] — final weights after ``iters``
    quantized full-batch subgradient rounds plus the resubstitution
    accuracy of sign(w·x) (0 counts as +1, ties deterministic).

    ``feats`` carries an int64 array ``x`` of length ``n_dims``
    (include the bias as x[0] = 1) and a label ``y`` in {+1, −1}."""
    v = feats.select(
        F.col(id_col).alias("i"),
        F.col(x_col).alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    n = v.agg(F.count(F.lit(1)).cast("long").alias("n"))

    spark = feats.sparkSession
    w = spark.range(n_dims).select(
        F.col("id").cast("long").alias("dim"), F.lit(0).cast("long").alias("wq")
    )

    def step(w: DataFrame, _: int) -> DataFrame:
        warr = w.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "wq"))),
                lambda s: s["wq"],
            ).alias("wv")
        )
        dot = F.aggregate(
            F.zip_with("x", "wv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        viol = (
            v.crossJoin(F.broadcast(warr))
            .withColumn("_dot", dot)
            .filter(F.col("y") * F.col("_dot") < SVM_SCALE)
        )
        g = (
            viol.select("y", F.posexplode("x").alias("dim", "xv"))
            .groupBy("dim")
            .agg(F.sum(F.col("y") * F.col("xv")).cast("long").alias("g"))
        )
        return (
            w.join(g, "dim", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "dim",
                F.floor(
                    (F.col("wq") * 15) / F.lit(16.0)
                    + (F.coalesce("g", F.lit(0)) * SVM_SCALE)
                    / (F.lit(2.0) * F.col("n"))
                    + F.lit(0.5)
                ).cast("long").alias("wq"),
            )
        )

    w = fixpoint(w, step, iters)
    warr = w.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "wq"))),
            lambda s: s["wq"],
        ).alias("wv")
    )
    dot = F.aggregate(
        F.zip_with("x", "wv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    pred = F.when(dot >= 0, F.lit(1)).otherwise(F.lit(-1))
    acc = (
        v.crossJoin(F.broadcast(warr))
        .agg(
            F.sum(F.when(pred == F.col("y"), 1).otherwise(0))
            .cast("long").alias("n_correct"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )
    return w.crossJoin(F.broadcast(acc)).select(
        "dim", "wq",
        (F.col("wq").cast("double") / SVM_SCALE).alias("w"),
        "n_correct", "n_total",
    )


def svm_oracle_sql(
    feats_cte: str,
    n_dims: int,
    iters: int = 3,
) -> str:
    """DuckDB twin of :func:`svm_train`: the same quantized rounds as
    an unrolled MATERIALIZED CTE chain (the iterative-oracle rule —
    DuckDB inlines CTEs by default and re-expands the subtree
    exponentially otherwise).  ``feats_cte`` must select
    (i, x, y) with x a list of int64 of length ``n_dims``."""
    parts = [
        f"WITH v AS MATERIALIZED ({feats_cte})",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)",
        f"w0 AS (SELECT CAST(i.range AS BIGINT) AS dim, CAST(0 AS BIGINT) AS wq "
        f"FROM range(0, {n_dims}) i)",
    ]
    for t in range(iters):
        parts.append(
            f"""e{t} AS MATERIALIZED (
  SELECT v.i, v.y, v.x, CAST(sum(v.x[w.dim + 1] * w.wq) AS BIGINT) AS dot
  FROM v, w{t} w GROUP BY v.i, v.y, v.x
)"""
        )
        parts.append(
            f"""g{t} AS MATERIALIZED (
  SELECT CAST(d.range AS BIGINT) AS dim,
         CAST(sum(e.y * e.x[d.range + 1]) AS BIGINT) AS g
  FROM e{t} e, range(0, {n_dims}) d
  WHERE e.y * e.dot < {SVM_SCALE} GROUP BY d.range
)"""
        )
        parts.append(
            f"""w{t + 1} AS MATERIALIZED (
  SELECT w.dim,
         CAST(floor((w.wq * 15) / 16.0
              + (coalesce(g.g, 0) * {SVM_SCALE}) / (2.0 * nn.n)
              + 0.5) AS BIGINT) AS wq
  FROM w{t} w LEFT JOIN g{t} g USING (dim), nn
)"""
        )
    parts.append(
        f"""ef AS MATERIALIZED (
  SELECT v.i, v.y, CAST(sum(v.x[w.dim + 1] * w.wq) AS BIGINT) AS dot
  FROM v, w{iters} w GROUP BY v.i, v.y
)"""
    )
    parts.append(
        """acc AS (
  SELECT CAST(sum(CASE WHEN (CASE WHEN dot >= 0 THEN 1 ELSE -1 END) = y
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(count(*) AS BIGINT) AS n_total
  FROM ef
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT w.dim, w.wq, CAST(w.wq AS DOUBLE) / {SVM_SCALE} AS w,
       acc.n_correct, acc.n_total
FROM w{iters} w, acc
"""
    )
