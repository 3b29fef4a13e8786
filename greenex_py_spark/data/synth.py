"""Deterministic synthetic web-page corpus + url-hash geocoder.

BASELINE.json ``input_hint``: the engine's real input is an Iceberg table
of Common-Crawl-style pages ``(url, warc_ts, html, text, lang)``.  This
module synthesizes that table at any row count, byte-stable for a given
seed (LCG streams keyed by row id — no Python ``random``), and geocodes
points *from the url* with the JVM's ``xxhash64`` (pure codegen, no
Python).

The ``text`` column is the byte-identity invariant: it must survive the
pipeline unchanged per url (verified in tests/test_text_invariant.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo.cells import CELL_SIZE, ORIGIN_X, ORIGIN_Y
from . import driver_city as city

_WORDS = np.array(
    "green park tree ndvi river urban street city house garden forest canopy "
    "walk path lake bench road crawl page web data text html index robot "
    "the a of to and in for on with at by from".split()
)
_LANGS = np.array(["en", "de", "nl", "es", "zh"])
_BASE_TS = np.datetime64("2023-06-01T00:00:00", "us")

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _lcg(x: np.ndarray) -> np.ndarray:
    """One 64-bit LCG step (MMIX constants) — deterministic stream."""
    return (x * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)) & MASK64


def documents_batch(ids: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """Generate one Arrow batch of synthetic pages for the given row ids."""
    ids = ids.astype(np.uint64)
    s0 = _lcg(ids ^ np.uint64(seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
    s1 = _lcg(s0)
    s2 = _lcg(s1)
    site = (s0 >> np.uint64(40)) % np.uint64(1000)
    urls = pd.Series(site).astype(str).radd("https://site") + pd.Series(ids).astype(str).radd(".example/p/")
    n_words = 20 + (s1 >> np.uint64(33)) % np.uint64(60)  # 20..79 words
    # token stream: per-row LCG chain, vectorized over the max word count
    max_w = int(n_words.max())
    state = s2.copy()
    cols = []
    for _ in range(max_w):
        state = _lcg(state)
        cols.append(_WORDS[(state >> np.uint64(35)) % np.uint64(len(_WORDS))])
    words = np.stack(cols, axis=1)  # (n, max_w) of str
    mask = np.arange(max_w)[None, :] < n_words[:, None].astype(np.int64)
    texts = pd.Series(
        [" ".join(row[m]) for row, m in zip(words, mask)], dtype="object"
    )  # join is unavoidable string assembly; stays O(batch) C-level ops
    html = ("<html><body>" + texts + "</body></html>").str.encode("utf-8")
    lang = _LANGS[(s1 >> np.uint64(21)) % np.uint64(len(_LANGS))]
    ts = _BASE_TS + ((s0 % np.uint64(86400 * 365)).astype("int64")).astype("timedelta64[s]")
    return pd.DataFrame(
        {
            "url": urls.to_numpy(),
            "warc_ts": ts,
            "html": html.to_numpy(),
            "text": texts.to_numpy(),
            "lang": lang,
        }
    )


DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def documents(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed generation of the web-pages table (mapInPandas, no shuffle)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches):
        for pdf in batches:
            yield documents_batch(pdf["id"].to_numpy(), seed)

    return spark.range(n, numPartitions=partitions).mapInPandas(gen, schema=DOC_SCHEMA)


# ---------------------------------------------------------------------------
# url-hash geocoder
# ---------------------------------------------------------------------------


def geocode(df: DataFrame, url_col: str = "url") -> DataFrame:
    """documents → + (x, y, cell) — **pure codegen**, zero Python.

    The geocoder only needs a deterministic 64-bit url hash; Spark's
    JVM-side ``xxhash64`` keeps the whole stage inside WholeStageCodegen
    (an Arrow pandas-UDF hash was ~10× slower and memory-bandwidth bound
    — measured in BENCH/notes).  60% of points land in the 1 km urban
    core (skew fixture — FIXTURES.md §2.1)."""
    h = F.xxhash64(F.col(url_col))
    fx = F.pmod(h, F.lit(1000000)).cast("double") / 1e6
    fy = F.pmod(F.shiftrightunsigned(h, 20), F.lit(1000000)).cast("double") / 1e6
    in_core = F.pmod(F.shiftrightunsigned(h, 45), F.lit(10)) < 6
    out = df.withColumn(
        "x",
        F.when(in_core, city.CORE_X0 + fx * city.CORE_EXTENT).otherwise(city.X0 + fx * city.EXTENT),
    ).withColumn(
        "y",
        F.when(in_core, city.CORE_Y0 + fy * city.CORE_EXTENT).otherwise(city.Y0 + fy * city.EXTENT),
    )
    gx = F.floor((F.col("x") - ORIGIN_X) / CELL_SIZE).cast("long")
    gy = F.floor((F.col("y") - ORIGIN_Y) / CELL_SIZE).cast("long")
    return out.withColumn("cell", gy * (1 << 20) + gx)
