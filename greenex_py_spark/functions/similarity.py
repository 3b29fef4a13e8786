"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk`   — brute-force cosine top-k (the exactness
  baseline; one broadcast of the query set, fully codegen arithmetic via
  higher-order array functions — no UDF, no shuffle until the window).
- :func:`lsh_topk`      — random-hyperplane (sign) LSH bucketing as the
  scale path: probes only vectors sharing a bucket, falls back to exact
  re-ranking inside the candidate set.
- :func:`cosine_pairs`  — all-pairs cosine ≥ τ (embedding near-dup).

Scale notes: brute force is O(Q·N·d) but embarrassingly parallel —
right for reranking; the LSH variant prunes N down by ~2^bits.  The dot
product uses ``aggregate(zip_with(...))`` which Catalyst keeps JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint

# Above this many query rows the exact broadcast path no longer belongs
# on the driver: 100k × dim-64 float64 ≈ 50 MB of matrix — comfortably
# broadcastable; orders of magnitude beyond it is a driver OOM, so the
# guard routes callers to the blocked/indexed paths instead.
MAX_QUERY_ROWS = 100_000


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_nrm", _norm(F.col(vec_col)))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_query_rows: int | None = None,
) -> DataFrame:
    """[q_id, n_id, sim, rank] — exact cosine top-k per query.

    The query set is collected + broadcast as one NumPy matrix; each
    Arrow batch of corpus vectors is scored with a single BLAS matmul
    (``mapInPandas``) — ~100× the throughput of per-pair higher-order
    ``aggregate`` expressions (measured; see BENCH notes).  Only rows
    that can reach some query's top-k survive to the window, which does
    the final per-query ranking.  Ties break by neighbour id; sims are
    rounded to 6 dp *before* ranking so FP noise can't flip ranks.

    The driver-side collect of *queries* is the standard
    broadcast-queries ANN pattern and is guarded: it is itself bounded
    (``limit(cap+1)`` — CollectLimit, the ``DRIVER_MAX_EDGES`` device),
    so the query lineage runs once, the driver holds at most cap+1
    rows, and more than ``max_query_rows`` (default
    :data:`MAX_QUERY_ROWS`) raises: passing a 10⁹-row "query" table
    fails fast with direction instead of OOMing the driver.
    """
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    cap = MAX_QUERY_ROWS if max_query_rows is None else int(max_query_rows)
    qp = queries.select(id_col, vec_col).limit(cap + 1).toPandas()
    if len(qp) > cap:
        raise ValueError(
            f"cosine_topk query side exceeds {cap} rows; this exact path "
            "broadcasts the query matrix to every corpus partition. For a "
            "large query set use cosine_pairs_blocked (blocked cogroup) or "
            "an index path (ivf_topk / lsh_topk), or raise max_query_rows "
            "explicitly if the driver can hold the matrix."
        )
    qm = np.stack(qp[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    qn = np.sqrt((qm * qm).sum(axis=1))
    qids = qp[id_col].to_numpy(np.int64)
    bc = spark.sparkContext.broadcast((qids, qm, qn))

    def score(batches):
        bqids, bqm, bqn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            cn = np.sqrt((cm * cm).sum(axis=1))
            sims = (cm @ bqm.T) / (cn[:, None] * bqn[None, :])
            nids = pdf[id_col].to_numpy(np.int64)
            n_id = np.repeat(nids, len(bqids))
            q_id = np.tile(bqids, len(nids))
            yield pd.DataFrame(
                {"q_id": q_id, "n_id": n_id, "sim": np.round(sims.ravel(), 6)}
            )

    pairs = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="q_id long, n_id long, sim double"
    )
    if exclude_self:
        pairs = pairs.filter(F.col("q_id") != F.col("n_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def _hyperplanes(n_bits: int, dim: int):
    """Deterministic pseudo-random hyperplane matrix (n_bits, dim):
    h[b][i] from a hash mix — reproducible across runs, no RNG state."""
    import numpy as np

    b = np.arange(n_bits, dtype=np.int64)[:, None]
    i = np.arange(dim, dtype=np.int64)[None, :]
    z = (b * 1315423911 + i * 2654435761 + 97531) % 1000003
    return (z / 1000003.0) * 2.0 - 1.0


def lsh_bucket(
    df: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[id, bucket] — sign-LSH bucket id (deterministic hyperplanes).

    One ``mapInPandas`` pass: each Arrow batch scores ALL planes with a
    single BLAS matmul.  (The first cut crossJoined a broadcast plane
    table and evaluated an interpreted higher-order-function dot per
    (row, plane) — n_bits× the rows and ~10× the per-element cost; this
    shape is also the 100 TB one: no join, no shuffle, map-side only.)
    """
    import numpy as np
    import pandas as pd

    dim = len(df.select(vec_col).first()[0])
    h = _hyperplanes(n_bits, dim)
    pw = (1 << np.arange(n_bits)).astype(np.int64)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].map(lambda e: np.asarray(e, dtype=np.float64)))
            bits = (v @ h.T) > 0
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(np.int64), "bucket": (bits * pw).sum(axis=1)}
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema="id long, bucket long")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, n_id, sim, rank] — bucketed ANN: candidates share the LSH
    bucket; exact cosine re-rank inside the bucket.  Recall < 1 by
    design; the exactness baseline is cosine_topk."""
    qb = lsh_bucket(queries, n_bits, id_col, vec_col).withColumnsRenamed({"id": "q_id"})
    cb = lsh_bucket(corpus, n_bits, id_col, vec_col).withColumnsRenamed({"id": "n_id"})
    q = with_norm(queries.select(id_col, vec_col), vec_col).withColumnsRenamed(
        {id_col: "q_id", vec_col: "_qv", "_nrm": "_qn"}
    ).join(qb, "q_id")
    c = with_norm(corpus.select(id_col, vec_col), vec_col).withColumnsRenamed(
        {id_col: "n_id", vec_col: "_cv", "_nrm": "_cn"}
    ).join(cb, "n_id")
    pairs = q.join(c, q["bucket"] == c["bucket"]).filter(F.col("q_id") != F.col("n_id"))
    sim = F.round(_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, n_id, sim, rank] — IVF-flat ANN: coarse-quantizer cells +
    probed-list search + exact cosine re-rank.

    The coarse quantizer is deterministic (centroids = the corpus
    vectors with id < n_centroids) so the whole operator is exactly
    reproducible — unlike sign-LSH it admits an exact SQL oracle while
    still exercising the real IVF shape: every vector is *assigned* to
    its nearest centroid's inverted list; a query probes only its
    ``nprobe`` nearest lists and re-ranks candidates exactly.

    Scale shape: assignment is a broadcast crossJoin against the tiny
    centroid table (N×C rows, map-side; the row_number window shuffles
    on vector id — at 100 TB swap in the BLAS `mapInPandas` argmin from
    cosine_topk, semantics identical).  The probe→list join shuffles on
    list_id, i.e. candidates only — N/n_centroids·nprobe of the corpus
    per query instead of all of it.  Similarities round to 6 dp before
    every ranking so FP noise can't flip order (ties break by id).
    """
    c = F.broadcast(
        corpus.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
        )
    )

    def centroid_sim(vcol: str):
        return F.round(
            _dot(F.col(vcol), F.col("cv")) / (_norm(F.col(vcol)) * _norm(F.col("cv"))), 6
        )

    wa = Window.partitionBy("n_id").orderBy(F.col("csim").desc(), F.col("c_id").asc())
    asg = (
        corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
        .crossJoin(c)
        .withColumn("csim", centroid_sim("nv"))
        .withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") == 1)
        .select("n_id", F.col("c_id").alias("list_id"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("csim").desc(), F.col("c_id").asc())
    probes = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
        .crossJoin(c)
        .withColumn("csim", centroid_sim("qv"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("q_id", "qv", F.col("c_id").alias("list_id"))
    )
    cand = probes.join(asg, "list_id").filter(F.col("q_id") != F.col("n_id"))
    nvec = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    sim = F.round(_dot(F.col("qv"), F.col("nv")) / (_norm(F.col("qv")) * _norm(F.col("nv"))), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        cand.join(nvec, "n_id")
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 1024,
) -> DataFrame:
    """[id_a, id_b, sim] — exact all-pairs cosine ≥ τ via block-matrix
    multiply: vectors are hashed into blocks, every (block_a ≤ block_b)
    pair cogroups once, and the Arrow kernel scores the whole block pair
    with one BLAS matmul.  O(N²d) work but each unit is a dense matmul,
    and block pairs parallelize across executors — the right shape when
    an exact sweep is required (LSH-bucketed ``cosine_pairs`` is the
    recall<1 scale path)."""
    import numpy as np
    import pandas as pd

    n = df.count()
    nb = max(1, -(-n // block_rows))
    v = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).alias("blk"),
    )
    a_side = v.withColumn("bb", F.explode(F.sequence(F.col("blk"), F.lit(nb - 1)))).select(
        F.col("blk").alias("ba"), "bb", "id", "v"
    )
    b_side = v.withColumn("ba", F.explode(F.sequence(F.lit(0), F.col("blk")))).select(
        "ba", F.col("blk").alias("bb"), "id", "v"
    )

    def kernel(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        ba, bb = key
        am = np.stack(left["v"].map(np.asarray))
        bm = np.stack(right["v"].map(np.asarray))
        an = np.sqrt((am * am).sum(axis=1))
        bn = np.sqrt((bm * bm).sum(axis=1))
        sims = np.round((am @ bm.T) / (an[:, None] * bn[None, :]), 6)
        aid = left["id"].to_numpy(np.int64)
        bid = right["id"].to_numpy(np.int64)
        if ba == bb:
            # diagonal group: both orientations of a pair are present —
            # keep the aid < bid half
            ord_mask = aid[:, None] < bid[None, :]
        else:
            # off-diagonal: each unordered cross-block pair appears
            # exactly once, in EITHER orientation (the smaller id may
            # live in the higher block) — take all of them and
            # canonicalize below.  (An `aid < bid` filter here silently
            # dropped those pairs; caught by the sf0.1 oracle sweep.)
            ord_mask = np.ones_like(sims, dtype=bool)
        ii, jj = np.nonzero((sims >= threshold) & ord_mask)
        ia, ib = aid[ii], bid[jj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "sim": sims[ii, jj],
            }
        )

    return (
        a_side.groupBy("ba", "bb")
        .cogroup(b_side.groupBy("ba", "bb"))
        .applyInPandas(kernel, schema="id_a long, id_b long, sim double")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 6,
) -> DataFrame:
    """[id_a, id_b, sim] — embedding near-duplicate pairs (cosine ≥ τ),
    LSH-bucketed so the self-join is per-bucket, not all-pairs."""
    b = lsh_bucket(df, n_bits, id_col, vec_col)
    v = with_norm(df.select(id_col, vec_col), vec_col).withColumnsRenamed({id_col: "id"}).join(
        b, "id"
    )
    l = v.select(
        F.col("id").alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"), "bucket",
    )
    r = v.select(
        F.col("id").alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"), "bucket",
    )
    pairs = l.join(r, "bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6)
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (the stored-embedding compression path):
# per-dimension min/max train → uint8 codes → dequantized re-rank
# ---------------------------------------------------------------------------


def sq8_stats(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1 row: [mn array<double>, mx array<double>] — per-dimension
    min/max over the corpus (the SQ8 'codebook'; a single partial-agg
    shuffle of (pos, partial) rows, O(dim) result)."""
    dims = corpus.select(F.posexplode(F.transform(F.col(vec_col), lambda e: e.cast("double"))).alias("pos", "val"))
    st = dims.groupBy("pos").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    return st.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]).alias("mn"),
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]).alias("mx"),
    )


def _sq8_code(v, mn, mx):
    """Portable quantizer: floor(t*255 + 0.5) clamped to [0,255]; a
    constant dimension (mx==mn) codes to 0."""
    den = mx - mn
    t = (v.cast("double") - mn) / den
    q = F.least(F.lit(255.0), F.greatest(F.lit(0.0), F.floor(t * 255.0 + 0.5)))
    return F.when(den == 0.0, F.lit(0.0)).otherwise(q)


def sq8_quantize(df: DataFrame, stats: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """[id, qcode array<int>] — the stored representation (64 B/vector
    at dim 64 instead of 256/512 B; stats is a 1-row broadcast dim)."""
    z = df.crossJoin(F.broadcast(stats))
    code = F.zip_with(
        F.col(vec_col), F.arrays_zip("mn", "mx"),
        lambda v, s: _sq8_code(v, s["mn"], s["mx"]).cast("int"),
    )
    return z.select(F.col(id_col).alias("id"), code.alias("qcode"))


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, n_id, sim, rank] — cosine top-k over DEQUANTIZED int8
    codes (both sides quantized with the corpus-trained stats), the
    accuracy/efficiency trade a stored-embedding ANN serves.  Fully
    relational (zip_with/aggregate stay JVM-side) so the whole operator
    has an exact DuckDB oracle; ranking rounds to 6 dp first, ties break
    by neighbour id — same contract as cosine_topk/ivf_topk."""
    stats = sq8_stats(corpus, vec_col)

    def dequant(df: DataFrame, out: str) -> DataFrame:
        z = df.crossJoin(F.broadcast(stats))
        dq = F.zip_with(
            F.col(vec_col), F.arrays_zip("mn", "mx"),
            lambda v, s: s["mn"] + _sq8_code(v, s["mn"], s["mx"]) / 255.0 * (s["mx"] - s["mn"]),
        )
        return z.select(F.col(id_col), dq.alias(out))

    q = dequant(queries, "qv").withColumnsRenamed({id_col: "q_id"})
    c = dequant(corpus, "cv").withColumnsRenamed({id_col: "n_id"})
    pairs = q.crossJoin(c).filter(F.col("q_id") != F.col("n_id"))
    sim = F.round(_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication = clustering + within-cluster near-dup
# ---------------------------------------------------------------------------


def semdedup(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[vec_id, cluster, dup_of] — SemDeDup (Abbas et al. 2023):
    k-means partitions the embedding space, then ONLY within-cluster
    pairs are scored — the pairwise sweep that is O(N²) globally becomes
    k independent O((N/k)²) blocks.  A vector is a semantic duplicate
    when some lower-id member of its own cluster has cosine ≥ τ to it;
    ``dup_of`` is the smallest such id (null for keepers), so the keep
    set is exactly the null-``dup_of`` rows and assignment is
    deterministic without a transitive-closure pass.

    Clustering is the oracle-exact quantized Lloyd of
    :func:`~greenex_py_spark.functions.clustering.kmeans_fit_predict`;
    the within-cluster sweep is one Arrow task per cluster running a
    dense BLAS gram matrix (same arithmetic the blocked exact sweep
    `cosine_pairs_blocked` uses, round-6 before the threshold).

    Scale envelope: one cluster = one task, so k must grow with the
    corpus (SemDeDup runs k≈√N; the paper's 50k clusters on LAION put
    ~5k vectors per task — a trivial gram matrix).  A skewed giant
    cluster falls back to `cosine_pairs_blocked` filtered to that
    cluster — same semantics, block-pair parallel.
    """
    import numpy as np
    import pandas as pd

    from .clustering import kmeans_fit_predict

    asg = kmeans_fit_predict(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("v"),
    ).join(asg, id_col)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["v"].iloc[order].map(np.asarray))
        nrm = np.sqrt((m * m).sum(axis=1))
        sims = np.round((m @ m.T) / (nrm[:, None] * nrm[None, :]), 6)
        # rows ascend by id, so per column the FIRST qualifying row is
        # the SMALLEST lower id with sim >= τ
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        hit = mask.any(axis=0)
        first = mask.argmax(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].iloc[0],
                "dup_of": pd.array(
                    np.where(hit, ids[first], 0), dtype="Int64"
                ),
            }
        ).assign(dup_of=lambda d: d["dup_of"].where(hit, pd.NA))

    return v.groupBy("cluster").applyInPandas(
        kernel, schema=f"{id_col} long, cluster long, dup_of long"
    )


def semdedup_oracle_sql(
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.95,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`semdedup`: the generated quantized-Lloyd
    CTE chain of ``kmeans_oracle_sql`` (same k/iters/dim/table) extended
    with a within-cluster pair sweep — sequential-fold cosine rounded to
    6 dp, min lower id per duplicate.  BLAS gram-matrix vs sequential
    list_sum agree at round-6 on well-conditioned unit-scale embeddings
    (the q_embedding_neardup precedent; a boundary-straddling sum would
    need the same micro-int device BM25 uses)."""
    from .clustering import kmeans_oracle_sql

    base = kmeans_oracle_sql(k=k, iters=iters, dim=dim, table=table)
    base = base[: base.rindex("\nSELECT")]
    cos = (
        "round(list_sum(list_transform(list_zip(a.v, b.v), "
        "q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(a.v, e -> e * e))) "
        "* sqrt(list_sum(list_transform(b.v, e -> e * e)))), 6)"
    )
    return (
        base
        + f""",
dups AS (
  SELECT b.vec_id AS id, min(a.vec_id) AS dup_of
  FROM afinal a JOIN afinal b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold!r}
  GROUP BY b.vec_id
)
SELECT m.vec_id, m.cid AS cluster, d.dup_of
FROM afinal m LEFT JOIN dups d ON d.id = m.vec_id"""
    )


def knn_label_accuracy(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """[label, n_queries, n_correct, accuracy] — kNN-classifier label
    agreement: each query's label predicted by MAJORITY VOTE over its
    exact cosine top-k neighbours (self excluded), scored against its
    own label, aggregated per true label.  The standard embedding-
    quality / ANN-recall proxy eval a curation pipeline runs before
    trusting an embedding column for semantic dedup.

    Vote counts are exact integers under a (count desc, label asc)
    total order; the only FP is the round-6 sim ranking inherited from
    :func:`cosine_topk` and the final accuracy division (round-6).
    Shape: cosine_topk's broadcast-queries BLAS kernel, then the tiny
    (q·k)-row result joins the corpus label column on the vector id —
    AQE picks the join; the label side is a column-pruned scan.
    """
    tk = cosine_topk(queries, corpus, k=k, id_col=id_col, vec_col=vec_col)
    lab = corpus.select(
        F.col(id_col).alias("n_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        tk.join(lab, "n_id")
        .groupBy("q_id", "_nl")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("_c").desc(), F.col("_nl").asc()
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("q_id", F.col("_nl").alias("_pred"))
    )
    truth = queries.select(
        F.col(id_col).alias("q_id"), F.col(label_col).alias("label")
    )
    ok = F.when(F.col("_pred") == F.col("label"), 1).otherwise(0)
    return (
        pred.join(truth, "q_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(ok).cast("long").alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_queries"), 6
            ).alias("accuracy"),
        )
    )


def gram_covariance_topk(
    emb: DataFrame,
    dim: int,
    quant: float = 1e6,
    k: int = 20,
    vec_col: str = "embedding",
) -> DataFrame:
    """[di, dj, sxy, cov_num, rank] — the top-k dimension PAIRS of the
    embedding matrix by |covariance|, via exact distributed Gram
    aggregation: the feature-correlation screen run before whitening /
    PCA / feature pruning of an embedding store.

    Shape is the textbook one for second-moment statistics at scale:
    every Arrow batch reduces its rows to ONE d(d−1)/2 + d + 1-sized
    integer partial (upper-triangle XᵀX, per-dim sums, count) inside
    ``mapInPandas``, so raw vectors never shuffle — only O(d²) partials
    per task do, and the single groupBy is map-side combinable.  On
    quantised int64 components every partial and the covariance
    numerator ``n·Σxy − Σx·Σy`` are exact (no FP, no order
    sensitivity); magnitudes stay under 2^63 for |x|·quant ≲ 1e6 and
    n ≲ 1e6 — beyond that swap the partials to float64/HUGEINT, the
    plan is unchanged.  Ranking ties break by (di, dj) ascending.
    """
    import numpy as np
    import pandas as pd

    d = int(dim)
    iu, ju = np.triu_indices(d, 1)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            s = x * quant
            xq = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
            g = xq.T @ xq  # (d, d) exact int64
            sx = xq.sum(axis=0)
            yield pd.DataFrame(
                {
                    "di": np.concatenate([iu, np.arange(d), [-1]]),
                    "dj": np.concatenate([ju, np.full(d, -1), [-1]]),
                    "v": np.concatenate([g[iu, ju], sx, [len(pdf)]]),
                }
            )

    agg = (
        emb.select(vec_col)
        .mapInPandas(partials, schema="di long, dj long, v long")
        .groupBy("di", "dj")
        .agg(F.sum("v").alias("v"))
        # the d²-sized aggregate feeds THREE branches below (pairs +
        # two sum lookups + n); without a checkpoint Catalyst re-runs
        # the full embedding scan once per branch (no subtree CSE)
        .localCheckpoint()
    )
    pairs = agg.filter(F.col("dj") >= 0).select(
        "di", "dj", F.col("v").alias("sxy")
    )
    sums = agg.filter((F.col("di") >= 0) & (F.col("dj") == -1)).select(
        F.col("di").alias("d"), F.col("v").alias("sx")
    )
    n = agg.filter(F.col("di") == -1).select(F.col("v").alias("n"))
    c = (
        pairs.crossJoin(F.broadcast(n))
        .join(F.broadcast(sums).withColumnRenamed("sx", "sa"),
              F.col("di") == F.col("d")).drop("d")
        .join(F.broadcast(sums).withColumnRenamed("sx", "sb"),
              F.col("dj") == F.col("d")).drop("d")
        .select(
            "di", "dj", "sxy",
            (F.col("n") * F.col("sxy") - F.col("sa") * F.col("sb")).alias(
                "cov_num"
            ),
        )
    )
    w = Window.orderBy(F.abs(F.col("cov_num")).desc(), "di", "dj")
    return (
        c.select("di", "dj", "sxy", "cov_num",
                 F.row_number().over(w).cast("long").alias("rank"))
        .filter(F.col("rank") <= k)
    )


def gram_power_iteration(
    emb: DataFrame,
    dim: int,
    quant: float = 1e6,
    g_scale: float = 1e7,
    u_scale: float = 1e6,
    iters: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """[di, u1, u2] — the dominant principal direction of the embedding
    second-moment (Gram) matrix after ``iters``=2 power-iteration steps
    from the all-ones start, components quantized to ``u_scale``.

    The distributed part is the same exact-integer Gram reduction as
    :func:`gram_covariance_topk` (one O(d²) int64 partial per Arrow
    batch, raw vectors never shuffle); the iteration then runs over the
    d²-row aggregate as broadcast-joined matvecs, so per-step cost is
    O(d²) regardless of corpus size.  Engine-exactness: G is exact
    int64; it is renormalized once to ≤ ``g_scale`` integers and each
    iterate to ≤ ``u_scale`` integers (round-half-away), keeping every
    matvec product ≤ g_scale·u_scale·d < 2^63 in exact integer
    arithmetic — the only FP ops are the two scalar divisions by the
    max-|component|, identical expressions in both engines.  Each round
    localCheckpoints (lineage-growth convention, CLAUDE.md)."""
    import numpy as np
    import pandas as pd

    d = int(dim)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            s = x * quant
            xq = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
            g = xq.T @ xq  # (d, d) exact int64, full symmetric matrix
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {"di": ii.ravel(), "dj": jj.ravel(), "v": g.ravel()}
            )

    g = (
        emb.select(vec_col)
        .mapInPandas(partials, schema="di long, dj long, v long")
        .groupBy("di", "dj")
        .agg(F.sum("v").alias("v"))
        .localCheckpoint()
    )
    maxg = g.agg(F.max(F.abs(F.col("v"))).alias("mg"))

    def _qz(c):
        return (F.signum(c) * F.floor(F.abs(c) + 0.5)).cast("long")

    gn = (
        g.crossJoin(F.broadcast(maxg))
        .select(
            "di", "dj",
            _qz(F.col("v").cast("double") / F.col("mg").cast("double") * g_scale)
            .alias("v"),
        )
        .localCheckpoint()
    )
    spark = emb.sparkSession
    u = spark.range(d).select(
        F.col("id").alias("dj"), F.lit(int(u_scale)).alias("u")
    )

    def power(u: DataFrame, _: int) -> DataFrame:
        y = (
            gn.join(F.broadcast(u), "dj")
            .groupBy("di")
            .agg(F.sum(F.col("v") * F.col("u")).alias("y"))
        )
        m = y.agg(F.max(F.abs(F.col("y"))).alias("m"))
        return y.crossJoin(F.broadcast(m)).select(
            F.col("di").alias("dj"),
            _qz(F.col("y").cast("double") / F.col("m").cast("double") * u_scale)
            .alias("u"),
        )

    iterates = []
    fixpoint(u, power, iters, lambda _, u: iterates.append(u))
    out = iterates[0].select(F.col("dj").alias("di"), F.col("u").alias("u1"))
    for t, ut in enumerate(iterates[1:], start=2):
        out = out.join(
            ut.select(F.col("dj").alias("di"), F.col("u").alias(f"u{t}")), "di"
        )
    return out


MMR_LAMBDA = 0.7
MMR_OML = 0.3   # 1 − λ as its own literal (the Holt convention: both
# engines must multiply by the SAME parsed double, never recompute it)


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_select: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, n_id, mmr_rank, rel, mmr_score] — maximal marginal
    relevance diversification of the exact cosine top-k: greedily pick
    ``n_select`` of the k candidates maximising

        λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)      (m = 0 when S = ∅)

    — the standard redundancy-suppressing re-rank a RAG/serving stage
    runs on its retrieval shortlist.

    Scale shape: retrieval (the corpus-sized part) IS ``cosine_topk``;
    the greedy recursion then touches only k rows per query inside ONE
    Arrow kernel partitioned by query (state = a k×k sim matrix,
    independent of corpus size).  Exactness: rel and the pairwise sims
    are round-6 BEFORE any comparison (the cosine_topk convention), and
    the score is the identical two-multiply expression in both engines,
    so the greedy argmax (ties → smallest id) is engine-portable.  The
    emitted ``mmr_score`` is deliberately UNROUNDED: with round-6
    inputs, 0.7·rel − 0.3·m is the same IEEE double everywhere, while
    round-6 of it is NOT portable — the product has 7 decimal digits,
    so it lands exactly on a …5 boundary whenever rel's last digit is
    odd, where Spark's BigDecimal HALF_UP (shortest-repr based) and
    DuckDB/NumPy binary rounding disagree (hit on real fixture data:
    0.7×0.340915 → 0.238641 vs 0.23864).
    """
    import numpy as np
    import pandas as pd

    cand = cosine_topk(queries, corpus, k=k, id_col=id_col, vec_col=vec_col)
    withv = cand.join(
        corpus.select(
            F.col(id_col).alias("n_id"), F.col(vec_col).alias("_v")
        ),
        "n_id",
    ).select("q_id", "n_id", F.col("sim").alias("rel"), "_v")

    out_schema = (
        "q_id long, n_id long, mmr_rank long, rel double, mmr_score double"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("n_id").reset_index(drop=True)
        n = len(pdf)
        vm = np.stack(pdf["_v"].map(lambda v: np.asarray(v, dtype=np.float64)))
        nrm = np.sqrt((vm * vm).sum(axis=1))
        ps = np.round((vm @ vm.T) / (nrm[:, None] * nrm[None, :]), 6)
        rel = pdf["rel"].to_numpy(np.float64)
        picked: list[int] = []
        rows = []
        for step in range(1, min(n_select, n) + 1):
            best, best_score = -1, None
            for i in range(n):
                if i in picked:
                    continue
                m = max(ps[i, j] for j in picked) if picked else 0.0
                score = MMR_LAMBDA * rel[i] - MMR_OML * m
                if best_score is None or score > best_score:
                    best, best_score = i, score
            picked.append(best)
            rows.append(
                [int(pdf["q_id"].iloc[0]), int(pdf["n_id"].iloc[best]),
                 step, float(rel[best]), float(best_score)]
            )
        return pd.DataFrame(
            rows, columns=["q_id", "n_id", "mmr_rank", "rel", "mmr_score"]
        )

    return withv.groupBy("q_id").applyInPandas(greedy, schema=out_schema)


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
) -> DataFrame:
    """[q_id, hits, recall] — standard ANN quality metric: per-query
    recall@k of an approximate top-k result against the exact one.

    Both inputs are ``[q_id, n_id, .., rank]`` frames (the common output
    shape of :func:`cosine_topk` / :func:`ivf_topk` / :func:`lsh_topk`).
    ``recall = |approx∩exact| / |exact|`` with both sets truncated to
    rank ≤ k; queries with fewer than k true neighbours divide by the
    achievable count, not k, so a perfect probe always scores 1.0.

    Scale shape: a left-semi join on (q_id, n_id) — both sides are
    already k·|Q| rows (tiny relative to the corpus), so the eval costs
    nothing beyond the two searches it grades.  No reference analogue
    (the reference has no embedding ops); standard IR recall definition.
    """
    a = approx.filter(F.col("rank") <= k).select("q_id", "n_id")
    e = exact.filter(F.col("rank") <= k).select("q_id", "n_id")
    per_q = (
        e.join(a.withColumn("_hit", F.lit(1)), ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("k_eff"),
        )
    )
    return per_q.select(
        "q_id",
        F.col("hits").cast("long").alias("hits"),
        F.round(F.col("hits") / F.col("k_eff"), 6).alias("recall"),
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 4,
    ksub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, n_id, adc, rank] — product-quantization ANN (Jégou et al.
    2011): each vector splits into ``m`` subvectors, each encoded as its
    nearest of ``ksub`` deterministic sub-centroids (the corpus vectors
    with id < ksub, the ivf_topk convention — exactly reproducible, so
    the whole operator admits an exact SQL oracle); queries score the
    CODES via an additive lookup table, never the raw corpus vectors.

    This is the memory-side scale path the IVF/LSH probes don't cover:
    the corpus compresses to m log2(ksub)-bit codes (16 bytes/vec here
    vs 256 raw), and search is a code-table scan joined to a per-query
    LUT of m·ksub distances — at 100 TB the LUT broadcast is O(|Q|·m·
    ksub) and the only corpus-sized pass is over the codes.

    Determinism: every squared L2 rounds to 6 dp before any argmin
    (ties by centroid id), and per-subspace LUT distances become exact
    micro-ints so the ADC total is an order-free int64 sum.
    """
    sub = dim // m
    if sub * m != dim:
        raise ValueError(f"dim={dim} not divisible by m={m}")

    def subspaces(df, out_id):
        slices = F.array(*[F.slice(F.col(vec_col), j * sub + 1, sub) for j in range(m)])
        return df.select(
            F.col(id_col).alias(out_id), F.posexplode(slices).alias("j", "sv")
        )

    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("sv"), F.col("cv"),
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    cent = F.broadcast(
        subspaces(corpus.filter(F.col(id_col) < ksub), "c_id")
        .withColumnRenamed("sv", "cv")
    )
    wa = Window.partitionBy("n_id", "j").orderBy(F.col("d2").asc(), F.col("c_id").asc())
    codes = (
        subspaces(corpus, "n_id")
        .join(cent, "j")
        .withColumn("d2", d2)
        .withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") == 1)
        .select("n_id", "j", F.col("c_id").alias("code"))
    )
    lut = (
        subspaces(queries, "q_id")
        .join(cent, "j")
        .withColumn("d2", d2)
        .select(
            "q_id", "j", F.col("c_id").alias("code"),
            F.round(F.col("d2") * 1_000_000.0).cast("long").alias("lm"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["j", "code"])
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.sum("lm").alias("adc_micro"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_micro").asc(), F.col("n_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "n_id",
            (F.col("adc_micro") / 1_000_000.0).alias("adc"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


JL_BITS = 16
JL_Q = 1_000_000


def jl_distortion_audit(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_proj: int = JL_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, n_id, d_true_q, d_proj_q, ratio, distortion] — Johnson–
    Lindenstrauss audit of the deterministic random projection: for
    each exact-top-k pair, the squared distance in the n_proj-dim
    projected space over the true squared distance.  With projection
    entries r ~ uniform[−1,1] (the same hash-mix family as
    :func:`_hyperplanes`), E[ratio] = n_proj/3, so
    ``distortion`` = ratio·3/n_proj concentrates near 1 — the
    dimensionality-reduction acceptance test an embedding pipeline
    runs before swapping full vectors for sketches.

    Exactness: projection terms r·v quantize to 1e-6 ints BEFORE the
    per-dimension sum (summation order immaterial), true distances use
    1e-6-quantized coordinates, so BOTH distances are exact int64 and
    the two divisions at the end are identical IEEE.  Scale shape:
    projection is map-side explode + (id, b)-keyed partial sums (one
    corpus-sized shuffle, n_proj fan-out); the audit join touches only
    the k·|queries| pair sliver."""
    from .similarity import cosine_topk  # self-import keeps style uniform

    pairs = cosine_topk(queries, corpus, k=k, id_col=id_col,
                        vec_col=vec_col).select("q_id", "n_id")
    ids = (
        pairs.select(F.col("q_id").alias("vid"))
        .unionByName(pairs.select(F.col("n_id").alias("vid")))
        .distinct()
    )
    vecs = corpus.join(ids, corpus[id_col] == ids["vid"]).select(
        F.col(id_col).alias("vid"),
        F.posexplode(vec_col).alias("i", "val"),
    )
    spark = corpus.sparkSession
    b = spark.range(n_proj).select(F.col("id").cast("long").alias("b"))
    z = (
        F.col("b") * F.lit(1315423911)
        + F.col("i") * F.lit(2654435761)
        + F.lit(97531)
    ) % F.lit(1000003)
    r = (z.cast("double") / F.lit(1000003.0)) * F.lit(2.0) - F.lit(1.0)
    proj = (
        vecs.crossJoin(F.broadcast(b))
        .withColumn(
            "tq",
            F.floor(
                r * F.col("val").cast("double") * F.lit(float(JL_Q))
                + F.lit(0.5)
            ).cast("long"),
        )
        .groupBy("vid", "b")
        .agg(F.sum("tq").cast("long").alias("p"))
    )
    vq = vecs.withColumn(
        "vq",
        F.floor(
            F.col("val").cast("double") * F.lit(float(JL_Q)) + F.lit(0.5)
        ).cast("long"),
    ).select("vid", "i", "vq")
    dt = (
        pairs.join(vq.withColumnRenamed("vid", "q_id")
                   .withColumnRenamed("vq", "va"), ["q_id"])
        .join(
            vq.select(F.col("vid").alias("n_id"), "i",
                      F.col("vq").alias("vb")),
            ["n_id", "i"],
        )
        .groupBy("q_id", "n_id")
        .agg(
            F.sum((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb")))
            .cast("long").alias("d_true_q")
        )
    )
    dp = (
        pairs.join(proj.withColumnRenamed("vid", "q_id")
                   .withColumnRenamed("p", "pa"), ["q_id"])
        .join(
            proj.select(F.col("vid").alias("n_id"), "b",
                        F.col("p").alias("pb")),
            ["n_id", "b"],
        )
        .groupBy("q_id", "n_id")
        .agg(
            F.sum((F.col("pa") - F.col("pb")) * (F.col("pa") - F.col("pb")))
            .cast("long").alias("d_proj_q")
        )
    )
    ratio = F.when(
        F.col("d_true_q") == 0, F.lit(None).cast("double")
    ).otherwise(F.col("d_proj_q").cast("double") / F.col("d_true_q").cast("double"))
    return dt.join(dp, ["q_id", "n_id"]).select(
        "q_id", "n_id", "d_true_q", "d_proj_q",
        ratio.alias("ratio"),
        (ratio * F.lit(3.0) / F.lit(float(n_proj))).alias("distortion"),
    )


NEG_MULTS = (31, 17, 53)
NEG_OFFS = (7, 3, 11)


def contrastive_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[q_id, pos_id, pos_sim, slot, neg_id, neg_sim] — contrastive
    training-pair mining over the embedding corpus: each anchor pairs
    with its exact top-1 neighbour as the positive and with
    ``len(NEG_MULTS)`` deterministic affine-hash candidates
    (a·P_j + Q_j mod N, the doc_link_edges device) as random
    negatives; candidates that collide with the anchor or the positive
    are dropped (documented variable fan-out).  ``pos_sim``/``neg_sim``
    are the round-6 cosines — the margin readout a contrastive loss
    (InfoNCE/triplet) would see, and the sanity filter (a "random"
    negative landing above the positive flags a near-dup the dedup
    stage missed).

    Scale shape: the positive comes from the gate-verified exact
    top-k (broadcast query set); negatives are pure arithmetic plus
    one id-equi-join to fetch vectors — no corpus-wide pairing
    anywhere."""
    n = corpus.agg(F.count(F.lit(1)).cast("long").alias("n"))
    top1 = cosine_topk(queries, corpus, k=1, id_col=id_col, vec_col=vec_col)
    pos = top1.select(
        "q_id", F.col("n_id").alias("pos_id"), F.col("sim").alias("pos_sim")
    )
    slots = [
        F.struct(
            F.lit(j + 1).alias("slot"),
            ((F.col("q_id") * NEG_MULTS[j] + NEG_OFFS[j]) % F.col("n"))
            .alias("neg_id"),
        )
        for j in range(len(NEG_MULTS))
    ]
    cand = (
        pos.crossJoin(F.broadcast(n))
        .select(
            "q_id", "pos_id", "pos_sim",
            F.explode(F.array(*slots)).alias("s"),
        )
        .select(
            "q_id", "pos_id", "pos_sim",
            F.col("s.slot").alias("slot"), F.col("s.neg_id").alias("neg_id"),
        )
        .filter(
            (F.col("neg_id") != F.col("q_id"))
            & (F.col("neg_id") != F.col("pos_id"))
        )
    )
    emb = corpus.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("_v"),
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_nv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )

    def _nrm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda e: e * e), F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    out = (
        cand.join(emb.select(F.col("_id").alias("q_id"),
                             F.col("_v").alias("_qv")), "q_id")
        .join(emb.select(F.col("_id").alias("neg_id"),
                         F.col("_v").alias("_nv")), "neg_id")
        .withColumn("neg_sim", F.round(dot / (_nrm("_qv") * _nrm("_nv")), 6))
    )
    return out.select("q_id", "pos_id", "pos_sim", "slot", "neg_id", "neg_sim")
