"""Deduplication operator family for the web-pages pipeline.

Five dedup strategies a 100 TB training-data pipeline needs, each
expressed **relationally** (explode/groupBy/join/window — zero Python
UDFs, so Catalyst/AQE own the physical plan and every operator has an
exact DuckDB oracle):

- exact          : hash-groupBy on the full text
- ngram_jaccard  : word-k-gram shingles → shingle equi-join → exact
                   Jaccard (the verification kernel for all near-dup ops)
- minhash_lsh    : shingle→md5→int, R×B permutation min-hash, banded
                   bucket join for candidates, exact-Jaccard verify
- simhash        : per-token hash bits weight-summed → 32-bit fingerprint,
                   hamming-≤k pairs via band partitioning
- embedding near-dup: cosine ≥ τ pairs over an embedding column
                   (delegates to similarity.cosine_pairs)

Portable-hash contract: all hashing is ``md5`` (identical across Spark /
DuckDB / Python) with hex→int via ``conv``; min-hash permutations are
``(a_j·sid + b_j) mod P`` with P=1e9+7 and sid<2^28 so products stay far
inside int64 in engines that error on overflow.

Scale notes: shingle explode is the dominant cost; it is map-side only
(no shuffle until the groupBy).  The LSH band join's worst enemy is a
hot bucket (boilerplate text) — cap bucket size with a count filter
(``max_bucket``) exactly like production LSH dedup does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine.iterate import fixpoint

P_MOD = 1_000_000_007
SID_MOD = 1 << 28  # shingle ids < 2^28 keep a*sid + b inside int64


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """[rep_id, n_dups] — one row per duplicate *group* (size ≥ 2);
    rep_id = min id.

    Hash-first: the groupBy key is ``(md5(text), octet_length(text))``,
    computed map-side, so the single shuffle moves ~24-byte keys instead
    of the documents themselves — at 100 TB that is the difference
    between shuffling digests and shuffling the corpus.  Two documents
    collide only on an md5 collision *at equal byte length*
    (probability ~n²/2¹²⁸ — far below the engine's other documented
    hash-collision assumptions); the DuckDB oracle keeps grouping on the
    raw text, so any collision would surface as a gate mismatch.
    """
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.md5(F.col(text_col)).alias("_digest"),
            F.octet_length(F.col(text_col)).alias("_len"),
        )
        .groupBy("_digest", "_len")
        .agg(F.min("_id").alias("rep_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") >= 2)
        .select("rep_id", "n_dups")
    )


def shingles(
    df: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """[id, sh] — distinct word-k-gram shingles per document.

    transform+slice+array_join stays codegen; duplicates can only occur
    *within* one document's gram array, so ``array_distinct`` dedups
    map-side and the whole operator is shuffle-free (the old
    ``dropDuplicates([id, sh])`` cost a full shuffle of the exploded
    shingle table for nothing).
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id_a, id_b, jaccard] — all pairs with shingle-Jaccard ≥ threshold.

    shingle equi-join (id_a < id_b) → intersection counts → sizes joined
    back → |∩| / (|A|+|B|−|∩|).  The shingle join is the classic
    inverted-index self-join; Spark shuffles on the **64-bit shingle
    hash** (``xxhash64`` — an 8-byte fixed-width key shuffles and
    compares far cheaper than the raw ~20-byte gram string; collision
    odds at n distinct shingles are ~n²/2⁶⁵) and AQE splits skewed
    shingles.
    """
    sh = (
        shingles(df, k, id_col, text_col)
        .select("id", F.xxhash64("sh").alias("sh"))
        .cache()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    ja = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return ja


def _shingle_int(col):
    """Portable shingle→int: first 7 hex chars of md5 → 28-bit int.

    Matches DuckDB ``CAST('0x' || substr(md5(sh),1,7) AS UBIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def _perm_consts(num_perm: int) -> list[tuple[int, int]]:
    """(a_j, b_j) for permutation j: a=(j+1)·2654435761 mod P,
    b=(j+1)·40503 mod P."""
    return [
        (((j + 1) * 2654435761) % P_MOD, ((j + 1) * 40503) % P_MOD)
        for j in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id, j, mh] — min-hash signature rows (one per permutation).

    All permutations aggregate in ONE groupBy as num_perm min-columns
    (partial aggregation, single shuffle of the shingle table — a
    shingles×perms explode costs num_perm× the shuffle for nothing),
    then unpivot to rows.
    """
    sh = shingles(df, k, id_col, text_col).withColumn("sid", _shingle_int(F.col("sh")) % SID_MOD)
    aggs = [
        F.min(F.pmod(F.col("sid") * F.lit(a) + F.lit(b), F.lit(P_MOD))).alias(f"mh{j}")
        for j, (a, b) in enumerate(_perm_consts(num_perm))
    ]
    wide = sh.groupBy("id").agg(*aggs)
    stack = ", ".join(f"{j}, mh{j}" for j in range(num_perm))
    return wide.selectExpr("id", f"stack({num_perm}, {stack}) AS (j, mh)")


def _band_signatures(sh: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """[id, band, bsig] from a hashed-shingle frame [id, sid]: one
    groupBy computes all ``num_perm`` min-hash columns (single shuffle,
    map-side partials), band signatures fold the columns arithmetically
    (Σ mh·31^(j mod r) mod P — portable integer arithmetic), then one
    unpivot produces the bucket-join rows.  Shared by
    :func:`minhash_lsh_pairs` and the at-scale diagnostics
    (scripts/dedup_scale_demo.py) so the two can never drift."""
    rows_per_band = num_perm // bands
    consts = _perm_consts(num_perm)
    aggs = [
        F.min(F.pmod(F.col("sid") * F.lit(a) + F.lit(b), F.lit(P_MOD))).alias(f"mh{j}")
        for j, (a, b) in enumerate(consts)
    ]
    wide = sh.groupBy("id").agg(*aggs)
    band_cols = []
    for b in range(bands):
        terms = None
        for r in range(rows_per_band):
            t = F.pmod(F.col(f"mh{b * rows_per_band + r}") * F.lit(31 ** r), F.lit(P_MOD))
            terms = t if terms is None else terms + t
        band_cols.append(terms.alias(f"bs{b}"))
    wide = wide.select("id", *band_cols)
    stack = ", ".join(f"{b}, bs{b}" for b in range(bands))
    return wide.selectExpr("id", f"stack({bands}, {stack}) AS (band, bsig)")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 1000,
) -> DataFrame:
    """[id_a, id_b, jaccard] — MinHash+LSH candidate generation, exact
    Jaccard verification.

    Band signature = Σ mh·31^(j mod r) over the band's rows (portable
    arithmetic).  Buckets larger than ``max_bucket`` are dropped (hot
    boilerplate defusal) before the pair self-join.
    """
    # shingles feed both the signature path and the exact-verify path —
    # cache once (plan inspection showed a full recompute otherwise).
    # sid (md5-derived, DuckDB-portable) drives the min-hash arithmetic;
    # h (xxhash64) is the cheap 8-byte equi-join key for the verify join.
    sh = (
        shingles(df, k, id_col, text_col)
        .select(
            "id",
            (_shingle_int(F.col("sh")) % SID_MOD).alias("sid"),
            F.xxhash64("sh").alias("h"),
        )
        .cache()
    )
    # one groupBy produces all num_perm min-hashes as columns (single
    # shuffle), band signatures fold columns arithmetically, then
    # unpivot to (id, band, bsig) rows for the bucket join
    band_sig = _band_signatures(sh, num_perm, bands)
    # defuse hot buckets
    bucket_ok = (
        band_sig.groupBy("band", "bsig").agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= max_bucket)
        .select("band", "bsig")
    )
    bs = band_sig.join(bucket_ok, ["band", "bsig"])
    cand = (
        bs.alias("l")
        .join(bs.alias("r"), ["band", "bsig"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verify on the candidates only (reuses the cached shingles)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "h")
    b = sh.select(F.col("id").alias("id_b"), "h")
    inter = (
        cand.join(a, "id_a").join(b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id, simhash] — per-token md5-derived hash, bitwise ±1 vote sum,
    sign → fingerprint bit.  Pure relational: tokens × bit positions.
    """
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .withColumn("th", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"))
    )
    # all bit votes in ONE groupBy (bits as agg columns — a token×bits
    # explode multiplies the shuffle by `bits` for nothing)
    votes = toks.groupBy("id").agg(
        *[
            F.sum((F.shiftright(F.col("th"), b) % 2) * 2 - 1).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id_a, id_b, hamming] — pairs within hamming distance, via the
    pigeonhole band trick: split the fingerprint into max_hamming+1
    bands; any pair within distance shares ≥1 exact band → band
    equi-join candidates → exact popcount verify."""
    nb = max_hamming + 1
    band_bits = bits // nb
    fp = simhash(df, bits, id_col, text_col)
    banded = fp.select(
        "id", "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(nb - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.pmod(
                        F.floor(
                            F.col("simhash")
                            / F.pow(F.lit(2.0), (i * band_bits).cast("double")).cast("long")
                        ),
                        F.lit(1 << band_bits),
                    ).alias("bsig"),
                ),
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig"))
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bsig"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"), F.col("l.simhash").alias("fp_a"),
            F.col("r.id").alias("id_b"), F.col("r.simhash").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


_URL_PREFIX_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"
_URL_TRK_RE = "(utm_[a-zA-Z0-9_]+|fbclid|gclid|ref)"


def canonicalize_url(col):
    """Column expression: crawl-URL canonical form — lowercase scheme+
    host, strip fragment, strip common tracking query params
    (utm_*/fbclid/gclid/ref), collapse duplicate path slashes, strip a
    trailing slash.  Pure codegen regexp chain (the URL-dedup normalizer
    every crawl pipeline runs before exact dedup); RE2-compatible
    patterns only (no lookbehind) so the DuckDB oracle mirrors it
    literally — the scheme's ``//`` survives because the collapse runs
    on the post-host remainder, not the whole URL."""
    u = F.regexp_replace(col, "#.*$", "")  # fragment
    prefix = F.lower(F.regexp_extract(u, _URL_PREFIX_RE, 1))
    rest = F.regexp_replace(u, _URL_PREFIX_RE, "")
    # slash collapse / trailing strip apply to the PATH only — query
    # values like ?next=//x must survive verbatim
    path = F.regexp_extract(rest, "^[^?]*", 0)
    query = F.regexp_replace(rest, "^[^?]*", "")
    path = F.regexp_replace(path, "//+", "/")
    path = F.regexp_replace(path, "/$", "")
    # tracking params: non-first, then first-with-successor, then lone
    query = F.regexp_replace(query, "&" + _URL_TRK_RE + "=[^&#]*", "")
    query = F.regexp_replace(query, "\\?" + _URL_TRK_RE + "=[^&#]*&", "?")
    query = F.regexp_replace(query, "\\?" + _URL_TRK_RE + "=[^&#]*$", "")
    return F.concat(prefix, path, query)


def canonicalize_url_sql(expr: str) -> str:
    """The identical chain as DuckDB SQL (RE2, 'g' flags — Spark's
    regexp_replace is global by default)."""
    u = f"regexp_replace({expr}, '#.*$', '', 'g')"
    prefix = f"lower(regexp_extract({u}, '{_URL_PREFIX_RE}', 1))"
    rest = f"regexp_replace({u}, '{_URL_PREFIX_RE}', '', 'g')"
    path = f"regexp_extract({rest}, '^[^?]*', 0)"
    query = f"regexp_replace({rest}, '^[^?]*', '', 'g')"
    path = f"regexp_replace({path}, '//+', '/', 'g')"
    path = f"regexp_replace({path}, '/$', '', 'g')"
    query = f"regexp_replace({query}, '&{_URL_TRK_RE}=[^&#]*', '', 'g')"
    query = f"regexp_replace({query}, '\\?{_URL_TRK_RE}=[^&#]*&', '?', 'g')"
    query = f"regexp_replace({query}, '\\?{_URL_TRK_RE}=[^&#]*$', '', 'g')"
    return f"({prefix} || {path} || {query})"


_URL_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"


def url_blocklist(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """[doc_id, host, rule_id, blocked] — UT1-style URL blocklist
    filtering (the adult/ads/malware domain filter every crawl pipeline
    runs first): ``rules`` is a [rule_id, domain, path_prefix] table; a
    URL is blocked when its host equals the rule domain OR is a
    subdomain of it (suffix match on ``.domain``), and — when the rule
    carries a ``path_prefix`` — its path starts with that prefix.
    ``rule_id`` is the LOWEST matching rule (-1 = clean) so overlapping
    rules resolve deterministically; ``blocked`` is the keep/drop flag.

    Shape: "host equals or is a subdomain of ``domain``" is EXACTLY
    "``domain`` is in the host's dot-suffix chain" (a.b.c → {a.b.c,
    b.c, c}), so the host explodes into its ≤ #labels suffixes and
    equi-joins ``suffix = domain`` — a BroadcastHashJoin against the
    broadcast blocklist (real UT1 lists are a few million short rows —
    megabytes, the canonical broadcast dim).  A raw OR-of-endswith
    predicate would force a BroadcastNestedLoopJoin: O(docs x rules)
    per-row rule scans, dead at list scale.  The path-prefix test rides
    the same join as a residual filter; the min-rule groupBy shuffles
    only (id, host, rule_id) triples — document text never moves.
    """
    host = F.lower(F.regexp_extract(F.col(url_col), _URL_HOST_RE, 1))
    path = F.regexp_extract(
        F.regexp_replace(F.col(url_col), _URL_PREFIX_RE, ""), "^[^?#]*", 0
    )
    h = df.select(
        F.col(id_col).alias("_id"), host.alias("host"), path.alias("_path")
    )
    # lambda only touches the _labels COLUMN (per the HOF mandate: the
    # split itself is bound once in the select, not re-run per element)
    nlab = F.size("_labels")
    cand = h.withColumn("_labels", F.split(F.col("host"), "\\.")).select(
        "_id",
        "host",
        "_path",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nlab - 1),
                lambda i: F.array_join(F.slice("_labels", i + 1, nlab - i), "."),
            )
        ).alias("_suffix"),
    )
    cond = (F.col("_suffix") == F.col("domain")) & (
        F.col("path_prefix").isNull()
        | F.col("_path").startswith(F.col("path_prefix"))
    )
    return (
        cand.join(F.broadcast(rules), cond, "left")
        .groupBy("_id", "host")
        .agg(F.coalesce(F.min("rule_id"), F.lit(-1)).alias("rule_id"))
        .select(
            F.col("_id").alias(id_col),
            "host",
            "rule_id",
            (F.col("rule_id") != -1).alias("blocked"),
        )
    )


def url_duplicates(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """[canonical_url, rep_id, n_dups] — URL-level duplicate groups
    after canonicalization (size ≥ 2; rep = min id).  Shuffles the
    canonical string (bounded length), grouped map-side first."""
    return (
        df.select(F.col(id_col).alias("_id"), canonicalize_url(F.col(url_col)).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("_id").alias("rep_id"), F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") >= 2)
    )


def near_dup_groups(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """[doc_id, rep_id] — near-duplicate GROUP assignment, the composite
    every curation pipeline actually runs on LSH output: minhash
    candidate pairs → connected components over the similarity graph →
    every grouped document labeled with its component representative
    (min id).  Documents with no near-dup partner are absent (keep-all
    semantics live with the caller: anti-join to drop non-reps).

    Reuses the dissolve operators' CC machinery (driver union-find
    below the threshold, Pregel min-label loop with per-round
    localCheckpoint above it) — the similarity graph is orders of
    magnitude smaller than the corpus, exactly like overlap graphs.
    """
    from ..operators.dissolve import connected_components

    pairs = minhash_lsh_pairs(df, threshold, id_col=id_col, text_col=text_col, **lsh_kwargs)
    # the similarity graph is tiny (near-dup pairs only) but its
    # LINEAGE is the whole LSH pipeline — CC consumes it twice (edge
    # fetch + node universe), so materialize once (measured ~1.7× on
    # q_near_dup_groups / q_golden_record; the join-back lesson again)
    edges = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .distinct()
        .withColumnRenamed("n", id_col)
    )
    comp = connected_components(nodes, edges, key=id_col)
    return comp.select(id_col, F.col("comp").alias("rep_id"))


def decontaminate(
    train: DataFrame,
    evals: DataFrame,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """[doc_id, n_hits] — benchmark decontamination: training documents
    that contain any word-``k``-gram of the evaluation set (the GPT-3 /
    Llama "13-gram overlap" rule; Brown et al. 2020 §C).  Output is one
    row per CONTAMINATED training document with the number of matching
    gram positions; clean documents are absent (the caller anti-joins to
    drop contaminated ones, mirroring `near_dup_groups` keep-semantics).

    Shape: both sides build word-k-grams with the same eval-once
    ``transform``+``slice``+``array_join`` used by `shingles` (the token
    array is a materialized column, so the interpreted lambda's body is
    O(k) `element_at`s, never a re-evaluated subtree), hash each gram to
    md5 and equi-join on the hash.  Train-side grams keep one row per
    POSITION (a doc repeating an eval gram counts each occurrence);
    eval-side grams are distinct.  At scale the eval set is a genuinely
    small dimension (benchmarks are MBs, the corpus is TBs) so AQE
    broadcasts it — no hint is forced, letting a pathological giant
    "eval" set degrade to a shuffle join instead of an executor OOM.
    Documents shorter than k tokens emit no grams on either side.
    """
    def _grams(df: DataFrame, idc, txtc, distinct: bool) -> DataFrame:
        # materialize the token array BEFORE the lambda so the
        # interpreted HOF body is O(k) element_ats, never a re-split
        keep = [F.col(idc).alias("_id")] if idc is not None else []
        t = df.select(*keep, F.split(F.col(txtc), " ").alias("_toks"))
        n = F.size("_toks")
        # greatest(...,1) clamp: Catalyst's subexpression elimination can
        # evaluate the projected transform while running the n>=k filter
        # predicate, and sequence(1, n-k+1) DESCENDS through 0 for short
        # docs (slice rejects start=0).  Clamped short docs yield one
        # harmless short gram; the filter still drops the row.
        t = t.filter(n >= k).select(
            *(["_id"] if idc is not None else []),
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
                lambda i: F.array_join(F.slice("_toks", i, k), " "),
            ).alias("_grams"),
        )
        arr = F.array_distinct("_grams") if distinct else F.col("_grams")
        t = t.select(
            *(["_id"] if idc is not None else []), F.explode(arr).alias("_g")
        )
        return t.select(
            *(["_id"] if idc is not None else []), F.md5("_g").alias("gh")
        )

    tg = _grams(train, id_col, text_col, distinct=False)
    eg = _grams(evals, None, eval_text_col, distinct=True).distinct()
    return (
        tg.join(eg, "gh")
        .groupBy("_id")
        .agg(F.count("*").alias("n_hits"))
        .withColumnRenamed("_id", id_col)
    )


def segment_dedup(
    train: DataFrame,
    seg_tokens: int = 8,
    max_docs: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id, text_clean, n_segs, n_dropped] — cross-document segment
    deduplication, the RefinedWeb/CCNet "line-wise dedup" boilerplate
    filter (Penedo et al. 2023 §4.2; CCNet hashes paragraphs): a
    SEGMENT (this corpus has no newlines, so a segment is a run of
    ``seg_tokens`` consecutive tokens — the line analogue) that occurs
    in more than ``max_docs`` DISTINCT documents is boilerplate
    (headers, nav bars, cookie banners) and is removed from every
    document; the survivors are reassembled in original order.

    Scale shape — a genuine two-pass corpus algorithm, like
    `unigram_logprob`: pass 1 counts distinct-doc frequency per segment
    hash (map-side combined groupBy on md5, bounded per-task state);
    the BOILERPLATE set it yields is small by definition (only
    segments crossing the repetition threshold), so the pass-2
    left-anti join is AQE-broadcast at any corpus size — no forced
    hint, so a pathological threshold that flags half the corpus
    degrades to a shuffle join instead of an executor OOM.  Reassembly
    is a per-document sort_array over (pos, seg) — state bounded by
    the document.  Documents whose every segment is boilerplate stay
    in the output with ``text_clean = ''`` (the caller decides whether
    an emptied doc survives, mirroring `decontaminate`'s
    flag-don't-drop contract).
    """
    w = seg_tokens
    t = train.select(
        F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks")
    )
    nseg = F.ceil(F.size("_toks") / float(w)).cast("int")
    base = t.select("_id", nseg.alias("n_segs"))
    segs = t.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(nseg, F.lit(1))),
                lambda i: F.array_join(
                    F.slice("_toks", (i - F.lit(1)) * w + 1, w), " "
                ),
            )
        ).alias("pos", "seg"),
    )
    boiler = (
        segs.groupBy(F.md5("seg").alias("sh"))
        .agg(F.count_distinct("_id").alias("nd"))
        .filter(F.col("nd") > max_docs)
        .select("sh")
    )
    kept = (
        segs.withColumn("sh", F.md5("seg"))
        .join(boiler, "sh", "left_anti")
        .groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("text_clean"),
            F.count("*").alias("_n_kept"),
        )
    )
    return (
        base.join(kept, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_segs",
            (F.col("n_segs") - F.coalesce("_n_kept", F.lit(0))).alias("n_dropped"),
        )
    )


def exact_substring_dedup(
    train: DataFrame,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id, n_tokens, n_removed, text_clean] — ExactSubstr deduplication
    (Lee et al. 2021 §3.1, "Deduplicating Training Data Makes Language
    Models Better"): any run of ``min_len`` consecutive tokens that
    occurs elsewhere in the corpus is removed, keeping only the
    globally FIRST occurrence (ordered by (doc_id, pos)).  The paper
    builds a corpus-wide suffix array; the distributed equivalent here
    enumerates every ``min_len``-token window, hashes it, and uses one
    hash-partitioned window function to find repeats — a shuffle on
    24-byte digests instead of a shared-memory suffix array.

    Token (d, t) is removed when ANY non-first duplicate window of doc
    d covers position t; survivors reassemble in order (the
    `segment_dedup` device).  Documents shorter than ``min_len``
    emit no windows and pass through unchanged.

    Scale shape: the window stream is ~n_tokens rows of (id, pos,
    digest) — the md5 is computed inside the projection so the shuffle
    carries digests, never gram text (the exact-dedup hash-first rule);
    repeat detection is count+row_number over ONE hash partition
    exchange (no join-back, so the gram build is evaluated once —
    CLAUDE.md anti-join convention); removed-position coverage explodes
    only DUPLICATE windows (rare by construction in deduplicated-ish
    corpora) and the final anti-join is co-partitioned on (id, pos).
    """
    L = min_len
    t = train.select(
        F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks")
    )
    n = F.size("_toks")
    base = t.select("_id", n.alias("n_tokens"))
    g = (
        t.filter(n >= L)
        .select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), n - (L - 1)),
                    lambda i: F.md5(F.array_join(F.slice("_toks", i, L), " ")),
                )
            ).alias("_p0", "gh"),
        )
        .select("_id", (F.col("_p0") + 1).alias("pos"), "gh")
    )
    wcnt = Window.partitionBy("gh")
    wrn = Window.partitionBy("gh").orderBy("_id", "pos")
    rem = (
        g.select(
            "_id",
            "pos",
            F.count("*").over(wcnt).alias("_c"),
            F.row_number().over(wrn).alias("_rn"),
        )
        .filter((F.col("_c") >= 2) & (F.col("_rn") > 1))
        .select(
            "_id", F.explode(F.sequence("pos", F.col("pos") + (L - 1))).alias("pos")
        )
        .distinct()
    )
    toks = t.select("_id", F.posexplode("_toks").alias("_p0", "tok")).select(
        "_id", (F.col("_p0") + 1).alias("pos"), "tok"
    )
    kept = (
        toks.join(rem, ["_id", "pos"], "left_anti")
        .groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text_clean"),
            F.count("*").alias("_n_kept"),
        )
    )
    return base.join(kept, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


def bloom_positions(col, m_bits: int, k: int = 3):
    """k Bloom bit positions of a string column — md5 hex slices
    (10 hex chars = 40 bits each, non-overlapping for k <= 3) mod
    ``m_bits``.  Pure codegen; the portable-hash contract of this module
    (md5 + conv) so Spark / DuckDB / Python agree bit-for-bit."""
    if not 1 <= k <= 3:
        raise ValueError("k must be in 1..3 (md5 yields 3 independent 40-bit slices)")
    h = F.md5(col)
    return [
        (F.conv(F.substring(h, 1 + 10 * i, 10), 16, 10).cast("long") % m_bits)
        for i in range(k)
    ]


def bloom_positions_sql(expr: str, m_bits: int, k: int = 3) -> list[str]:
    """DuckDB twin of :func:`bloom_positions` (oracle side)."""
    return [
        f"(CAST(CAST('0x' || substr(md5({expr}), {1 + 10 * i}, 10) AS UBIGINT)"
        f" AS BIGINT) % {m_bits})"
        for i in range(k)
    ]


def bloom_prefilter(
    ref: DataFrame,
    query: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 17,
    k: int = 3,
) -> DataFrame:
    """[id_col, probably_seen] — Bloom-filter membership pre-filter:
    for every query row, is md5(key) *probably* in the reference set?

    The cross-snapshot dedup shape CommonCrawl-scale recrawl pipelines
    use: the previous snapshot's content digests are folded into a
    fixed-size Bloom filter and every new document is pre-screened
    against it BEFORE any shuffle-heavy dedup — no false negatives, and
    false positives (all k positions collide) only cost a redundant
    exact check downstream.

    Spark shape: the filter is represented relationally as the DISTINCT
    set of occupied bit positions — **bounded by m_bits rows regardless
    of reference-corpus size** (here 2^17), i.e. a true dim table; it is
    broadcast and the query side explodes its k positions, joins, and
    keeps ids matching all k.  The production variant packs the same
    positions into a bitset broadcast variable; the relational form is
    chosen because it is plan-transparent and oracle-exact — membership
    semantics are identical by construction.
    """
    pos = bloom_positions(F.col(key_col), m_bits, k)
    bits = (
        ref.select(F.explode(F.array(*pos)).alias("bit")).distinct()
    )
    probes = query.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*pos)).alias("bit")
    )
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy("_id")
        .agg(F.count("*").alias("_k_hit"))
        .filter(F.col("_k_hit") >= k)
        .select("_id", F.lit(True).alias("probably_seen"))
    )
    return (
        query.select(F.col(id_col).alias("_id"))
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("probably_seen", F.lit(False)).alias("probably_seen"),
        )
    )


def fuzzy_match(
    left: DataFrame,
    right: DataFrame,
    block_col: str = "block",
    left_id: str = "q_id",
    right_id: str = "c_id",
    left_text: str = "q_text",
    right_text: str = "c_text",
    max_dist: int = 2,
) -> DataFrame:
    """[left_id, right_id, dist] — blocked fuzzy record linkage: within
    each block, the best (Levenshtein ≤ max_dist) right-side match per
    left row under a (dist asc, right_id asc) total order.  The
    title/citation-matching stage of a curation pipeline.

    Levenshtein is a built-in on BOTH engines (unit edit costs,
    char-level) so distances are exact integers — no FP anywhere.

    Scale shape: the candidate space is the BLOCK join, never the
    cross product — blocking-key design (length bands, untouched-token
    keys, phonetic codes) bounds per-block fan-out exactly like the
    LSH band join in minhash_near_duplicates; the quadratic-cost
    levenshtein only runs inside blocks.  One shuffle on the block
    key, one per-left window.
    """
    from pyspark.sql import Window

    lt = left.select(
        F.col(left_id), F.col(block_col), F.col(left_text).alias("_qt")
    )
    rt = right.select(
        F.col(right_id), F.col(block_col), F.col(right_text).alias("_ct")
    )
    d = F.levenshtein(F.col("_qt"), F.col("_ct"))
    w = Window.partitionBy(left_id).orderBy(
        F.col("dist").asc(), F.col(right_id).asc()
    )
    return (
        lt.join(rt, block_col)
        .withColumn("dist", d)
        .filter(F.col("dist") <= max_dist)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(left_id, right_id, F.col("dist").cast("long").alias("dist"))
    )


def jaro_winkler(s1: str, s2: str, boost_threshold: float = 0.7) -> float:
    """Jaro-Winkler similarity, bit-identical to DuckDB's
    ``jaro_winkler_similarity`` (fuzz-verified on 120k random pairs,
    tests/test_operators.py): match window ``max(0, max(len)//2 - 1)``,
    half-transpositions //2, Winkler prefix ≤ 4 at scale 0.1 applied
    only when jaro > 0.7.  Python here is only ever called from inside
    Arrow-batched kernels, never as a row UDF."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    md = max(0, max(l1, l2) // 2 - 1)
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        for j in range(max(0, i - md), min(l2, i + md + 1)):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if j <= boost_threshold:
        return j
    p = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        p += 1
    return j + p * 0.1 * (1.0 - j)


def jaro_winkler_linkage(
    left: DataFrame,
    right: DataFrame,
    block_col: str = "block",
    left_id: str = "q_id",
    right_id: str = "c_id",
    left_text: str = "q_text",
    right_text: str = "c_text",
    min_sim: float = 0.8,
) -> DataFrame:
    """[left_id, right_id, sim] — blocked Jaro-Winkler record linkage:
    within each block, the best right-side match per left row under a
    (sim desc, right_id asc) total order, keeping matches ≥ min_sim.
    The name/title-matching complement to :func:`fuzzy_match` —
    edit-distance counts operations, JW rewards shared prefixes.

    Similarity runs in an Arrow ``mapInPandas`` kernel (no row UDF);
    its doubles are bit-identical to DuckDB's builtin, and ranking
    happens on the 6-dp-rounded value with id tie-break, so block-join
    order can never flip a rank.  Scale shape identical to
    ``fuzzy_match``: the quadratic string work only runs inside
    blocking-key groups; one shuffle on the block key, one window.
    """
    import pandas as pd
    from pyspark.sql import Window

    lt = left.select(F.col(left_id), F.col(block_col), F.col(left_text).alias("_qt"))
    rt = right.select(F.col(right_id), F.col(block_col), F.col(right_text).alias("_ct"))
    pairs = lt.join(rt, block_col).select(left_id, right_id, "_qt", "_ct")

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    left_id: pdf[left_id],
                    right_id: pdf[right_id],
                    "sim": [
                        jaro_winkler(a, b)
                        for a, b in zip(pdf["_qt"], pdf["_ct"])
                    ],
                }
            )

    scored = pairs.mapInPandas(
        kernel, schema=f"{left_id} long, {right_id} long, sim double"
    ).select(left_id, right_id, F.round(F.col("sim"), 6).alias("sim"))
    w = Window.partitionBy(left_id).orderBy(F.col("sim").desc(), F.col(right_id).asc())
    return (
        scored.filter(F.col("sim") >= min_sim)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(left_id, right_id, "sim")
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
    path_col: str = "path",
) -> DataFrame:
    """[id, path, allowed, rule_id] — robots.txt path filtering under
    Google's longest-match-wins semantics (allow wins exact-length
    ties): ``rules`` is (rule_id, prefix, allow) PATH-PREFIX rules (the
    ``*``/``$`` wildcard forms are a documented non-goal of this tier).

    Include a (rule_id=0, prefix='', allow=true) catch-all in ``rules``
    — the empty prefix matches everything and loses every tie, which
    makes the default-allow case fall out of the SAME ranking instead
    of a join-back (the anti-join-re-evaluation rule).

    Shape: rules are a per-host metadata dim — broadcast cross join,
    startswith filter, one per-url window under the
    (prefix_len desc, allow desc, rule_id asc) total order.
    """
    from pyspark.sql import Window

    r = rules.select(
        "rule_id", "prefix", F.col("allow").cast("boolean").alias("allow"),
        F.length("prefix").alias("_plen"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_plen").desc(), F.col("allow").desc(), F.col("rule_id").asc()
    )
    return (
        urls.select(id_col, path_col)
        .join(F.broadcast(r))
        .filter(F.col(path_col).startswith(F.col("prefix")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, path_col, "allow", "rule_id")
        .withColumnRenamed("allow", "allowed")
    )


def dedup_yield(
    df: DataFrame,
    n_buckets: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[bucket, n_docs, n_new, new_rate] — marginal dedup yield curve:
    walk the corpus in id (crawl) order, split it into ``n_buckets``
    equal rank ranges, and report per bucket how many documents are
    FIRST occurrences of their content hash — the "is more crawling
    still finding new content?" saturation readout a pipeline checks
    before paying for the next snapshot.

    Hash-first like ``exact_duplicates`` (the shuffle carries a 32-hex
    digest, never text); first-occurrence = id equals the min id of
    its hash group (one hash-partitioned window).  The global rank
    uses the two-phase range-partition form (engine/rank.global_rank)
    — no single-task window anywhere.  Bucket assignment and counts
    are exact integers ((rank−1)·B div N); new_rate divides two exact
    int64s once, portable unrounded.
    """
    from ..engine.rank import global_rank

    h = df.select(
        F.col(id_col).alias("_id"),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("_h"),
    )
    w = Window.partitionBy("_h")
    f = h.select(
        "_id",
        (F.col("_id") == F.min("_id").over(w)).cast("long").alias("fst"),
    )
    ranked = global_rank(f, ["_id"], "rnk")
    tot = f.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.expr(f"CAST(((rnk - 1) * {n_buckets}) DIV _n AS BIGINT)")
            .alias("bucket"),
            "fst",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("fst").cast("long").alias("n_new"),
        )
        .select(
            "bucket", "n_docs", "n_new",
            (F.col("n_new").cast("double") / F.col("n_docs").cast("double"))
            .alias("new_rate"),
        )
    )


def prefix_filter_join(
    df: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id_a, id_b, inter, union_sz, jaccard] — EXACT set-similarity
    self-join on k-gram shingle sets with Jaccard ≥ num/den, by prefix
    filtering (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al.
    WWW'08): order every document's shingles by global rarity, keep
    only the first n − ⌈t·n⌉ + 1 as the candidate-generating prefix —
    if J(a,b) ≥ t the two prefixes provably share a shingle — then
    verify candidates with an exact intersection.

    Contrast with :func:`ngram_jaccard_pairs` (inverted-index join on
    EVERY shingle — candidates = pairs sharing anything) and MinHash
    (probabilistic): prefix filtering joins only on each document's
    RAREST ~(1−t) fraction of shingles, so hot shingles never build
    buckets and the candidate set shrinks toward the true result as t
    rises — the exact-answer scale path.

    Exactness: the global order is (freq, shingle) via the two-phase
    ``engine/rank.global_rank`` (never a single-task window); the
    threshold test den·inter ≥ num·union is integer cross-
    multiplication (no FP anywhere until the final reported ratio,
    one identical double division in both engines).

    Scale: one shingle-keyed shuffle builds frequencies, one ranks the
    vocabulary (range exchange), one joins ranks back, one self-join
    on PREFIX ranks only, one verify join of the dim-shaped candidate
    list against per-doc rank arrays (arrays are document-sized)."""
    from ..engine.rank import global_rank

    # the exploded shingle table is consumed twice (vocabulary
    # frequencies AND the per-doc rank-array build); checkpointing it
    # runs the split/transform/explode text kernel once, not twice.
    # Under-partitioned sources (a small parquet read can be 3 files on
    # 32 cores) are widened first so the text kernel parallelizes; at
    # scale the condition is false and no extra shuffle is added.
    sc = df.sparkSession.sparkContext
    src = df
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism)
    sh = shingles(src, k, id_col, text_col).localCheckpoint()
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ranked = global_rank(freq, ["cnt", "sh"], out_col="rk")
    docs = (
        sh.join(ranked.select("sh", "rk"), "sh")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list("rk")).alias("arr"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        # doc-sized (one row per document) and consumed THREE times —
        # prefix explode + both verify-join sides; without this the
        # whole shingle→freq→rank→join pipeline re-evaluates per
        # consumer (the expensive-lineage rule, CLAUDE.md)
        .localCheckpoint()
    )
    # prefix length p = n - ceil(t*n) + 1, ceil via integer arithmetic
    ceil_tn = F.expr(
        f"(n * {threshold_num} + {threshold_den} - 1) DIV {threshold_den}"
    )
    p = (F.col("n") - ceil_tn + 1).cast("int")
    pre = docs.select(
        "id", "n",
        # pos is the token's 0-based position in the FULL sorted rank
        # array (the slice starts at element 1), which the positional
        # filter below needs
        F.posexplode(F.slice("arr", F.lit(1), p)).alias("pos", "rk"),
    )
    a = pre.select(F.col("id").alias("id_a"), F.col("n").alias("na"),
                   F.col("pos").alias("pa"), "rk")
    b = pre.select(F.col("id").alias("id_b"), F.col("n").alias("nb"),
                   F.col("pos").alias("pb"), "rk")
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2): let w be the
    # pair's FIRST common prefix token in the global order, at 0-based
    # positions pa/pb.  Tokens of a strictly before pa contribute no
    # overlap (w is the first common one), so
    #   inter(a,b) ≤ 1 + min(na − pa − 1, nb − pb − 1).
    # J ≥ num/den  ⟺  inter ≥ num/(num+den)·(na+nb); the integer test
    # ub·(num+den) ≥ num·(na+nb) is exact (ub ≥ ceil(x) ⟺ ub ≥ x for
    # integer ub).  Ranks are unique per doc (distinct shingles ×
    # unique global rank), so min-by-rank is deterministic.  The
    # groupBy replaces the old dropDuplicates — same shuffle, and the
    # verify join downstream shrinks.
    first = F.min(F.struct("rk", "pa", "pb")).alias("m")
    cand = (
        a.join(b, "rk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (threshold_num * F.greatest("na", "nb")
               <= threshold_den * F.least("na", "nb"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(first)
        .filter(
            (F.lit(1) + F.least(F.col("na") - F.col("m.pa") - 1,
                                F.col("nb") - F.col("m.pb") - 1))
            * (threshold_num + threshold_den)
            >= threshold_num * (F.col("na") + F.col("nb"))
        )
        .select("id_a", "id_b")
    )
    v = (
        cand.join(
            docs.select(F.col("id").alias("id_a"),
                        F.col("arr").alias("arr_a"),
                        F.col("n").alias("na")), "id_a")
        .join(
            docs.select(F.col("id").alias("id_b"),
                        F.col("arr").alias("arr_b"),
                        F.col("n").alias("nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
            .alias("inter"),
            (F.col("na") + F.col("nb")).alias("ssum"),
        )
    )
    return (
        v.filter(threshold_den * F.col("inter")
                 >= threshold_num * (F.col("ssum") - F.col("inter")))
        .select(
            "id_a", "id_b", "inter",
            (F.col("ssum") - F.col("inter")).cast("long").alias("union_sz"),
            (F.col("inter").cast("double")
             / (F.col("ssum") - F.col("inter")).cast("double"))
            .alias("jaccard"),
        )
    )


def golden_records(
    groups: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    rep_col: str = "rep_id",
    text_col: str = "text",
) -> DataFrame:
    """[rep_id, n_members, keep_id, keep_len, total_len] — survivorship
    over near-duplicate groups: for every group the canonical SURVIVOR
    under the longest-text rule (ties by smallest id) plus merged
    group statistics — the "golden record" step entity-resolution
    pipelines run after :func:`near_dup_groups`, deciding which copy
    of each duplicate cluster the curated corpus keeps.

    Determinism: the keep rule orders by exact integer
    (length DESC, id ASC); all outputs are exact int64.

    Scale: one join of the group map to the corpus (both keyed by id),
    one per-group window over group-sized partitions (near-dup groups
    are small by construction), one dim-sized aggregate."""
    j = groups.join(docs, id_col).select(
        rep_col, id_col,
        F.length(F.col(text_col)).cast("long").alias("len"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(rep_col).orderBy(
        F.desc("len"), F.asc(id_col)
    )
    keep = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            rep_col,
            F.col(id_col).alias("keep_id"),
            F.col("len").alias("keep_len"),
        )
    )
    stats = j.groupBy(rep_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("len").cast("long").alias("total_len"),
    )
    return stats.join(keep, rep_col).select(
        rep_col, "n_members", "keep_id", "keep_len", "total_len"
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage (m/u-probability EM)
# ---------------------------------------------------------------------------

FS_Q = 1_000_000_000  # probability nano-grid (the em_poisson2 contract)


def fellegi_sunter_em(
    pairs: DataFrame,
    gamma_cols: list[str],
    iters: int = 4,
    init: tuple = (0.9, 0.1, 0.5),
) -> DataFrame:
    """[k, m_q, u_q, m, u, w_agree_q, p_q, n_pairs, n_match] — the
    Fellegi–Sunter (1969) linkage model fitted by EM over blocked
    comparison vectors: each candidate pair carries K binary field
    agreements γ_k; under conditional independence the E-step posterior
    of "pair is a match" is

        g = sigmoid( logit(p) + Σ_k γ_k·(ln m_k − ln u_k)
                              + (1−γ_k)·(ln(1−m_k) − ln(1−u_k)) )

    and the M-step re-estimates m_k (P(agree | match)),
    u_k (P(agree | non-match)) and the match proportion p.

    Engine-portable by the quantized-EM contract shared with
    em_poisson2 / the SVM / k-means trainers: parameters live on an
    integer nano-grid (``FS_Q``), the E-step posterior is floored to an
    integer nanoshare immediately, every M-step statistic is an exact
    int64 sum, and each int64/int64 division back to the grid is a
    single correctly-rounded double op — so Spark and an unrolled
    MATERIALIZED-CTE DuckDB oracle iterate bit-identically.  Parameters
    are clamped to [1, FS_Q−1] (integer test) so ln never sees 0.

    ``w_agree_q`` is the Fellegi–Sunter agreement weight
    log2(m_k/u_k) on a micro-grid (the score a production linker sums
    per field); ``n_match`` counts pairs whose FINAL posterior passes
    ½ — a pure integer comparison.  Shape per round: one broadcast of
    the 1-row parameter frame, one map-side E-step expression, one
    exact aggregation; no per-pair state, so the pair table streams at
    any scale and blocking bounds the candidate space exactly like
    fuzzy_match/jaro_winkler_linkage above.
    """
    spark = pairs.sparkSession
    K = len(gamma_cols)
    m0, u0, p0 = init
    row = tuple(
        [int(round(m0 * FS_Q))] * K + [int(round(u0 * FS_Q))] * K
        + [int(round(p0 * FS_Q))]
    )
    schema = (
        ", ".join(f"m{k}q long" for k in range(K)) + ", "
        + ", ".join(f"u{k}q long" for k in range(K)) + ", pq long"
    )
    params = spark.createDataFrame([row], schema)

    def posterior():
        p = F.col("pq").cast("double") / FS_Q
        s = F.log(p) - F.log(F.lit(1.0) - p)
        for k, c in enumerate(gamma_cols):
            m = F.col(f"m{k}q").cast("double") / FS_Q
            u = F.col(f"u{k}q").cast("double") / FS_Q
            g = F.col(c).cast("double")
            s = (
                s
                + g * (F.log(m) - F.log(u))
                + (F.lit(1.0) - g) * (F.log(F.lit(1.0) - m) - F.log(F.lit(1.0) - u))
            )
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-s))

    clamp = lambda c: F.greatest(F.lit(1), F.least(F.lit(FS_Q - 1), c))  # noqa: E731

    def step(params: DataFrame, _: int) -> DataFrame:
        e = pairs.crossJoin(F.broadcast(params)).select(
            *[F.col(c).cast("long").alias(c) for c in gamma_cols],
            F.floor(posterior() * F.lit(float(FS_Q)) + F.lit(0.5))
            .cast("long").alias("gq"),
        )
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("gq").cast("long").alias("sg"),
        ]
        for k, c in enumerate(gamma_cols):
            aggs.append(F.sum(F.col("gq") * F.col(c)).cast("long").alias(f"sm{k}"))
            aggs.append(
                F.sum((F.lit(FS_Q) - F.col("gq")) * F.col(c))
                .cast("long").alias(f"su{k}")
            )
        a = e.agg(*aggs)
        news = []
        for k in range(K):
            news.append(
                clamp(
                    F.floor(
                        F.col(f"sm{k}").cast("double") / F.col("sg").cast("double")
                        * FS_Q + F.lit(0.5)
                    ).cast("long")
                ).cast("long").alias(f"m{k}q")
            )
        for k in range(K):
            news.append(
                clamp(
                    F.floor(
                        F.col(f"su{k}").cast("double")
                        / (F.col("n").cast("double") * FS_Q - F.col("sg").cast("double"))
                        * FS_Q + F.lit(0.5)
                    ).cast("long")
                ).cast("long").alias(f"u{k}q")
            )
        news.append(
            clamp(
                F.floor(
                    F.col("sg").cast("double") / (F.col("n").cast("double") * FS_Q)
                    * FS_Q + F.lit(0.5)
                ).cast("long")
            ).cast("long").alias("pq")
        )
        return a.select(*news)

    params = fixpoint(params, step, iters)

    hard = pairs.crossJoin(F.broadcast(params)).select(
        F.floor(posterior() * F.lit(float(FS_Q)) + F.lit(0.5))
        .cast("long").alias("gq"),
    ).agg(
        F.sum(F.when(F.col("gq") > FS_Q // 2, 1).otherwise(0))
        .cast("long").alias("n_match"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    out = params.crossJoin(F.broadcast(hard))
    rows = []
    for k in range(K):
        m = F.col(f"m{k}q").cast("double") / FS_Q
        u = F.col(f"u{k}q").cast("double") / FS_Q
        rows.append(
            out.select(
                F.lit(k + 1).cast("long").alias("k"),
                F.col(f"m{k}q").alias("m_q"),
                F.col(f"u{k}q").alias("u_q"),
                m.alias("m"),
                u.alias("u"),
                # log2(m/u) on a micro-grid: double log of exact-grid
                # ratios, floored — identical both engines
                F.floor(
                    (F.log(m) - F.log(u)) / F.log(F.lit(2.0)) * 1_000_000
                    + F.lit(0.5)
                ).cast("long").alias("w_agree_q"),
                F.col("pq").alias("p_q"),
                F.col("n_pairs"),
                F.col("n_match"),
            )
        )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionByName(r)
    return res


def fellegi_sunter_oracle_sql(
    pairs_cte: str,
    gamma_cols: list[str],
    iters: int = 4,
    init: tuple = (0.9, 0.1, 0.5),
) -> str:
    """DuckDB twin of :func:`fellegi_sunter_em` — identical quantized
    rounds unrolled as MATERIALIZED CTEs.  ``pairs_cte`` must select
    the BIGINT 0/1 columns named in ``gamma_cols``."""
    K = len(gamma_cols)
    m0, u0, p0 = init
    parts = [
        f"WITH v AS MATERIALIZED ({pairs_cte})",
        "p0 AS (SELECT "
        + ", ".join(
            f"CAST({int(round(m0 * FS_Q))} AS BIGINT) AS m{k}q" for k in range(K)
        )
        + ", "
        + ", ".join(
            f"CAST({int(round(u0 * FS_Q))} AS BIGINT) AS u{k}q" for k in range(K)
        )
        + f", CAST({int(round(p0 * FS_Q))} AS BIGINT) AS pq)",
    ]

    def post(t: int) -> str:
        terms = [
            f"(ln(CAST(p{t}.pq AS DOUBLE) / {FS_Q}.0)"
            f" - ln(1.0 - CAST(p{t}.pq AS DOUBLE) / {FS_Q}.0))"
        ]
        for k, c in enumerate(gamma_cols):
            m = f"CAST(p{t}.m{k}q AS DOUBLE) / {FS_Q}.0"
            u = f"CAST(p{t}.u{k}q AS DOUBLE) / {FS_Q}.0"
            g = f"CAST(v.{c} AS DOUBLE)"
            terms.append(f"{g} * (ln({m}) - ln({u}))")
            terms.append(f"(1.0 - {g}) * (ln(1.0 - {m}) - ln(1.0 - {u}))")
        s = " + ".join(terms)
        return f"1.0 / (1.0 + exp(-({s})))"

    def clamp(x: str) -> str:
        return f"greatest(1, least({FS_Q - 1}, {x}))"

    for t in range(iters):
        parts.append(
            f"""e{t} AS MATERIALIZED (
  SELECT {', '.join('v.' + c for c in gamma_cols)},
         CAST(floor(({post(t)}) * {FS_Q}.0 + 0.5) AS BIGINT) AS gq
  FROM v, p{t}
)"""
        )
        sums = [
            "CAST(count(*) AS BIGINT) AS n",
            "CAST(sum(gq) AS BIGINT) AS sg",
        ]
        for k, c in enumerate(gamma_cols):
            sums.append(f"CAST(sum(gq * {c}) AS BIGINT) AS sm{k}")
            sums.append(f"CAST(sum(({FS_Q} - gq) * {c}) AS BIGINT) AS su{k}")
        parts.append(f"a{t} AS (\n  SELECT {', '.join(sums)}\n  FROM e{t}\n)")
        news = []
        for k in range(K):
            news.append(
                clamp(
                    f"CAST(floor(CAST(sm{k} AS DOUBLE) / CAST(sg AS DOUBLE)"
                    f" * {FS_Q} + 0.5) AS BIGINT)"
                )
                + f" AS m{k}q"
            )
        for k in range(K):
            news.append(
                clamp(
                    f"CAST(floor(CAST(su{k} AS DOUBLE)"
                    f" / (CAST(n AS DOUBLE) * {FS_Q} - CAST(sg AS DOUBLE))"
                    f" * {FS_Q} + 0.5) AS BIGINT)"
                )
                + f" AS u{k}q"
            )
        news.append(
            clamp(
                f"CAST(floor(CAST(sg AS DOUBLE) / (CAST(n AS DOUBLE) * {FS_Q})"
                f" * {FS_Q} + 0.5) AS BIGINT)"
            )
            + " AS pq"
        )
        parts.append(f"p{t + 1} AS (\n  SELECT {', '.join(news)}\n  FROM a{t}\n)")
    parts.append(
        f"""hf AS (
  SELECT CAST(sum(CASE WHEN CAST(floor(({post(iters)}) * {FS_Q}.0 + 0.5) AS BIGINT)
                       > {FS_Q // 2} THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM v, p{iters}
)"""
    )
    selects = []
    for k in range(K):
        m = f"CAST(m{k}q AS DOUBLE) / {FS_Q}"
        u = f"CAST(u{k}q AS DOUBLE) / {FS_Q}"
        selects.append(
            f"""SELECT CAST({k + 1} AS BIGINT) AS k, m{k}q AS m_q, u{k}q AS u_q,
       {m} AS m, {u} AS u,
       CAST(floor((ln({m}) - ln({u})) / ln(2.0) * 1000000 + 0.5) AS BIGINT)
         AS w_agree_q,
       pq AS p_q, n_pairs, n_match
FROM p{iters}, hf"""
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)
