"""Checkpoint/resume, streaming ingest, multimodal plumbing tests."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_snapshot_resume_equals_cold_run(spark, tmp_path, sf_dir):
    from greenex_py_spark.data import driver_city as city
    from greenex_py_spark.engine.checkpoint import Pipeline, SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "snaps"))
    fp = f"{sf_dir}:v1"

    def build_points():
        return city.with_cell(city.points_df(spark, sf_dir))

    def run_once() -> tuple[Pipeline, pd.DataFrame]:
        pipe = Pipeline(store)
        pts = pipe.run_stage("points", fp, build_points)
        joined = pipe.run_stage(
            "pip",
            fp,
            lambda: __import__(
                "greenex_py_spark.operators.spatial_join", fromlist=["point_in_rect_join"]
            ).point_in_rect_join(pts, city.greenspace_df(spark), point_key="doc_id")
            .select("doc_id", "gs_id"),
        )
        return pipe, joined.toPandas().sort_values(["doc_id", "gs_id"]).reset_index(drop=True)

    p1, out1 = run_once()
    assert [s["resumed"] for s in p1.stats] == [False, False]
    p2, out2 = run_once()
    assert [s["resumed"] for s in p2.stats] == [True, True]  # metadata-only restart
    pd.testing.assert_frame_equal(out1, out2)

    # metrics surface: per-stage rows/latency dump (north_rule)
    import json as _json

    mpath = p1.dump_stats("resume_test", out_dir=str(tmp_path / "metrics"))
    md = _json.load(open(mpath))
    assert [st["stage"] for st in md["stages"]] == ["points", "pip"]
    assert all(st["rows"] > 0 and st["wall_ms"] >= 0 for st in md["stages"])

    # partial resume: drop only the final stage → stage 1 resumes, stage 2 rebuilds
    store.drop("pip")
    p3, out3 = run_once()
    assert [s["resumed"] for s in p3.stats] == [True, False]
    pd.testing.assert_frame_equal(out1, out3)

    # lineage manifest has per-partition rows + latency
    hist = store.history("points")
    assert hist and hist[0]["rows"] == len(
        pd.read_parquet(f"{sf_dir}/documents.parquet")
    )
    assert all("wall_ms" in h and h["partitions"] for h in hist)


def test_streaming_incremental_ingest(spark, tmp_path):
    from greenex_py_spark.data import synth
    from greenex_py_spark.streaming.ingest import geocode_stream

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    synth.documents(spark, 200).write.mode("overwrite").parquet(src)
    geocode_stream(spark, src, sink, ckpt)
    n1 = spark.read.parquet(sink).count()
    assert n1 == 200
    # a new crawl batch lands → only the delta is processed
    synth.documents(spark, 100, seed=43).write.mode("append").parquet(src)
    geocode_stream(spark, src, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 300
    assert out.select("cell").distinct().count() > 1


def test_streaming_bloom_cross_run_resume(spark, tmp_path):
    """The sharded Bloom GroupState survives a checkpoint restart: a
    second AvailableNow drain over newly-landed later-snapshot files
    flags them against state accumulated in the FIRST run, matching an
    independent python fold of the label semantics."""
    import hashlib

    from pyspark.sql import functions as F

    from greenex_py_spark.streaming.bloom_dedup import run_bloom_stream

    m, k = 256, 3  # tiny filter -> guaranteed collisions to check
    texts0 = [(i, 0, f"alpha beta {i}") for i in range(30)]
    # snapshot 1: half repeat snapshot-0 content keys, half fresh
    texts1 = [(100 + i, 1, f"alpha beta {i}") for i in range(15)] + [
        (200 + i, 1, f"gamma delta {i}") for i in range(15)
    ]
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    schema = "doc_id long, lab long, text string"
    spark.createDataFrame(texts0, schema).write.mode("overwrite").parquet(src)
    key = F.col("text")
    run_bloom_stream(spark, src, sink, ckpt, key_expr=key, schema=schema,
                     m_bits=m, k=k)
    # second snapshot lands; same checkpoint -> only the delta processed
    spark.createDataFrame(texts1, schema).write.mode("append").parquet(src)
    run_bloom_stream(spark, src, sink, ckpt, key_expr=key, schema=schema,
                     m_bits=m, k=k)
    flags = (
        spark.read.parquet(sink)
        .groupBy("doc_id", "lab")
        .agg((F.count(F.when(F.col("prior"), 1)) >= k).alias("seen"))
        .collect()
    )
    got = {r["doc_id"]: r["seen"] for r in flags}

    def positions(t):
        h = hashlib.md5(t.encode()).hexdigest()
        return [int(h[10 * i: 10 * i + 10], 16) % m for i in range(k)]

    bits0 = {p for _, _, t in texts0 for p in positions(t)}
    want = {i: False for i, _, _ in texts0}
    want.update({i: all(p in bits0 for p in positions(t)) for i, _, t in texts1})
    assert got == want
    assert all(got[100 + i] for i in range(15))  # repeats flagged
    assert len(got) == 60


def test_multimodal_plumbing(spark):
    from greenex_py_spark.functions import multimodal as mm

    pdf = pd.DataFrame(
        {"media_id": [1, 2, 3],
         "media": [b"fake-jpeg-bytes-1", b"fake-jpeg-bytes-22", b"x" * 1000]}
    )
    df = spark.createDataFrame(pdf)
    meta = mm.attach_binary_metadata(df).toPandas().sort_values("media_id")
    assert meta.n_bytes.tolist() == [17, 18, 1000]
    assert meta.sha256.str.len().eq(64).all()

    dec = mm.decode_images(df)
    d = dec.toPandas()
    assert (d.width * d.height * 3 == d.pixels.map(len)).all()
    # decode is deterministic
    d2 = mm.decode_images(df).toPandas()
    assert d.sort_values("media_id").pixels.map(tuple).tolist() == \
           d2.sort_values("media_id").pixels.map(tuple).tolist()

    rs = mm.resize_images(dec, 8, 8).toPandas()
    assert (rs.pixels.map(len) == 8 * 8 * 3).all()

    feats = mm.image_features(dec).toPandas()
    assert feats.brightness.between(0, 255).all()

    gvi = mm.segment_green_fraction(dec).toPandas()
    assert gvi.GVI.between(0, 1).all()

    # strict mode marks the missing codec instead of faking silently
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.decode_images(df, strict=True).collect()

    frames = mm.frame_sample(
        spark.createDataFrame(pd.DataFrame({"media_id": [1], "n_frames": [35]})),
        every=10,
    ).toPandas()
    assert frames.frame_idx.tolist() == [0, 10, 20, 30]


def test_spark_submit_pyfiles_deployment(tmp_path):
    """north_rule deployment contract: the packaged zip runs under real
    ``spark-submit --py-files`` from a neutral cwd (the repo is NOT on
    the path — only the zip provides the package), and the flagship
    query returns its pinned sf0.001 row count."""
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "build_pyfiles.py")],
        capture_output=True, text=True, check=True,
    )
    zip_path = out.stdout.strip().splitlines()[-1]
    assert zip_path.endswith("greenex_py_spark.zip") and os.path.exists(zip_path)
    job = tmp_path / "job.py"
    job.write_text(
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.getOrCreate()\n"
        "from greenex_py_spark.driver_queries import flagship\n"
        "print('FLAGSHIP_ROWS=%d' % flagship(spark, '/root/testdata/sf0.001').count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(job)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "FLAGSHIP_ROWS=22" in r.stdout, r.stdout[-2000:] + r.stderr[-1000:]


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked windowed counts across two AvailableNow runs: the
    checkpoint carries the watermark, finalized windows emit exactly
    once, and a row older than the carried watermark is DROPPED (its
    closed window's count never changes)."""
    import datetime as dt

    import pandas as pd

    from greenex_py_spark.data.synth import DOC_SCHEMA
    from greenex_py_spark.streaming.ingest import windowed_counts

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def doc(url, hour, minute=0):
        return (
            url,
            dt.datetime(2026, 1, 1, hour, minute),
            b"<html/>",
            "page text",
            "en",
        )

    batch1 = spark.createDataFrame(
        [doc("https://a/1", 10), doc("https://a/2", 11),
         doc("https://a/3", 12), doc("https://a/4", 13)],
        DOC_SCHEMA,
    )
    batch1.write.mode("overwrite").parquet(src)
    windowed_counts(spark, src, sink, ckpt, window="1 hour", watermark="2 hours")
    out1 = spark.read.parquet(sink).toPandas()
    # watermark = 13:00 − 2h = 11:00 → only window [10,11) is final
    assert set(out1.win_start.dt.hour) == {10}
    assert out1.n_pages.sum() == 1

    # batch 2: one on-time row (advances watermark to 12:00) and one row
    # at 10:30 — older than the carried watermark → dropped
    batch2 = spark.createDataFrame(
        [doc("https://a/5", 14), doc("https://late/x", 10, 30)], DOC_SCHEMA
    )
    batch2.write.mode("append").parquet(src)
    windowed_counts(spark, src, sink, ckpt, window="1 hour", watermark="2 hours")
    out2 = spark.read.parquet(sink).toPandas()
    by_win = out2.groupby(out2.win_start.dt.hour).n_pages.sum()
    # [10,11) still 1 (late row dropped, window emitted exactly once);
    # [11,12) newly finalized with its single on-time row
    assert by_win.loc[10] == 1
    assert by_win.loc[11] == 1
    assert 13 not in by_win.index  # still within watermark, not final


def test_audio_plumbing(spark):
    """Audio modality: opaque binary → stubbed PCM decode → features;
    deterministic, strict mode marks the missing codec."""
    import pandas as pd
    import pytest as _pytest

    from greenex_py_spark.functions import multimodal as mm

    df = spark.createDataFrame(
        pd.DataFrame({"media_id": [1, 2, 3],
                      "media": [b"clip-a", b"clip-b", b"x" * 500]})
    )
    dec = mm.decode_audio(df).toPandas().sort_values("media_id")
    assert (dec.n_samples == dec.pcm.map(len) // 4).all()  # float32 PCM
    dec2 = mm.decode_audio(df).toPandas().sort_values("media_id")
    assert dec.pcm.tolist() == dec2.pcm.tolist()  # deterministic
    feats = mm.audio_features(mm.decode_audio(df)).toPandas()
    assert (feats.duration_s > 0).all()
    assert feats.rms.between(0, 1).all() and feats.peak.between(0, 1).all()
    with _pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.decode_audio(df, strict=True).collect()


def test_snapshot_store_factory_backend_switch(spark, tmp_path):
    """snapshot_store picks the parquet fallback when no Iceberg jar is
    present (this sandbox), honors explicit backend='parquet', and
    refuses backend='iceberg' without jar+catalog; the Pipeline resume
    contract holds on whatever the factory returns."""
    import pytest as _pytest

    from greenex_py_spark.engine.checkpoint import Pipeline, SnapshotStore
    from greenex_py_spark.engine.iceberg import (
        iceberg_available, snapshot_store,
    )

    assert not iceberg_available(spark)  # sandbox has no runtime jar
    store = snapshot_store(spark, str(tmp_path / "snap"))
    assert isinstance(store, SnapshotStore)
    assert isinstance(snapshot_store(spark, str(tmp_path / "s2"), "parquet"), SnapshotStore)
    with _pytest.raises(RuntimeError):
        snapshot_store(spark, str(tmp_path / "s3"), "iceberg")

    # the backend-independent contract: write -> resume is metadata-only
    pipe = Pipeline(store)
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "v")

    a = pipe.run_stage("stage_x", "fp1", build)
    b = pipe.run_stage("stage_x", "fp1", build)
    assert len(calls) == 1 and a.count() == b.count() == 10
    assert pipe.stats[1]["resumed"] is True


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions emitted by
    the stateful streaming operator equal the batch window-function
    sessions (for sessions that provably closed before the final
    watermark), including sessions continued ACROSS micro-batches via
    GroupState and sessions closed by event-time timeout."""
    import os

    import pandas as pd

    from greenex_py_spark.streaming.sessionize import (
        sessionize_batch_reference, sessionize_stream,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def mk(rows):
        return pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.to_datetime([r[1] for r in rows]),
                "user_id": [r[0] for r in rows],
                "event_type": "e",
                "value": 1.0,
                "props": "",
            }
        )

    # batch 1: user 1 session A (2 events), user 2 session open
    b1 = mk([(1, "2023-06-01 10:00:00"), (1, "2023-06-01 10:10:00"),
             (2, "2023-06-01 10:05:00")])
    # batch 2: user 1 new session B (gap > 30 min), user 2 continues the
    # SAME session across the batch boundary; a late sentinel at 23:00
    # advances the watermark far past every session's expiry
    b2 = mk([(1, "2023-06-01 11:30:00"), (2, "2023-06-01 10:20:00"),
             (9, "2023-06-01 23:00:00")])
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    spark.createDataFrame(b1, schema=schema).coalesce(1).write.mode("append").parquet(src)
    sessionize_stream(spark, src, sink, ckpt)
    spark.createDataFrame(b2, schema=schema).coalesce(1).write.mode("append").parquet(src)
    sessionize_stream(spark, src, sink, ckpt)
    # third drain: no new data, but the state-store timeouts fire against
    # the advanced watermark, closing user 1's session B and user 2's
    spark.createDataFrame(mk([]), schema=schema).coalesce(1).write.mode("append").parquet(src)
    sessionize_stream(spark, src, sink, ckpt)

    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["user_id", "sess_start"]).reset_index(drop=True)
    )
    all_events = spark.read.parquet(src)
    want_all = sessionize_batch_reference(all_events).toPandas()
    # sessions that provably closed before the final watermark (23:00 - 1 min)
    wm = pd.Timestamp("2023-06-01 22:59:00")
    want = (
        want_all[want_all.sess_end + pd.Timedelta(minutes=30) < wm]
        .sort_values(["user_id", "sess_start"]).reset_index(drop=True)
    )
    assert len(want) >= 3  # A, B, and user 2's cross-batch session
    pd.testing.assert_frame_equal(
        got[["user_id", "sess_start", "sess_end", "n_events"]],
        want[["user_id", "sess_start", "sess_end", "n_events"]],
        check_dtype=False,
    )
    # cross-batch continuation really happened: user 2 has ONE session
    u2 = got[got.user_id == 2]
    assert len(u2) == 1 and int(u2.n_events.iloc[0]) == 2


def test_sessionize_stream_out_of_order_across_batches(spark, tmp_path):
    """Out-of-order events arriving in a LATER micro-batch but within the
    watermark (the normal streaming case) must match the batch twin:
    an event ≤ gap before the open session's start extends it BACKWARD
    (sess_start moves down, n_events counts it); an event > gap before
    the start forms its own earlier session instead of being absorbed.
    Regression for the r02-ADVICE _fold bug (merged any t ≤ open end
    without ever lowering sess_start or gap-checking against it)."""
    import os

    import pandas as pd

    from greenex_py_spark.streaming.sessionize import (
        sessionize_batch_reference, sessionize_stream,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def mk(rows):
        return pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.to_datetime([r[1] for r in rows]),
                "user_id": [r[0] for r in rows],
                "event_type": "e",
                "value": 1.0,
                "props": "",
            }
        )

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    # batch 1: user 5's open session [12:00, 12:10]
    b1 = mk([(5, "2023-06-01 12:00:00"), (5, "2023-06-01 12:10:00")])
    # batch 2 (2h watermark keeps these in-watermark): 11:50 is 10 min
    # before the open start -> extends backward; 10:30 is 90 min before
    # -> its own earlier session, closed because a successor exists
    b2 = mk([(5, "2023-06-01 11:50:00"), (5, "2023-06-01 10:30:00")])
    # batch 3: sentinel advances the watermark past every expiry
    b3 = mk([(9, "2023-06-02 23:00:00")])
    for b in (b1, b2, b3):
        spark.createDataFrame(b, schema=schema).coalesce(1).write.mode("append").parquet(src)
        sessionize_stream(spark, src, sink, ckpt, watermark="2 hours")
    # one extra drain on no new data so the final timeouts fire
    spark.createDataFrame(mk([]), schema=schema).coalesce(1).write.mode("append").parquet(src)
    sessionize_stream(spark, src, sink, ckpt, watermark="2 hours")

    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["user_id", "sess_start"]).reset_index(drop=True)
    )
    want_all = sessionize_batch_reference(spark.read.parquet(src)).toPandas()
    wm = pd.Timestamp("2023-06-02 21:00:00")  # final max ts − 2 h
    want = (
        want_all[want_all.sess_end + pd.Timedelta(minutes=30) < wm]
        .sort_values(["user_id", "sess_start"]).reset_index(drop=True)
    )
    u5 = want[want.user_id == 5]
    assert len(u5) == 2  # {10:30} and {11:50,12:00,12:10}
    pd.testing.assert_frame_equal(
        got[["user_id", "sess_start", "sess_end", "n_events"]],
        want[["user_id", "sess_start", "sess_end", "n_events"]],
        check_dtype=False,
    )
    back = got[(got.user_id == 5)
               & (got.sess_start == pd.Timestamp("2023-06-01 11:50:00"))]
    assert len(back) == 1 and int(back.n_events.iloc[0]) == 3


def test_bucketed_join_eliminates_shuffles(spark, tmp_path):
    """Both sides written bucketed on doc_id -> the join plan has ZERO
    shuffle exchanges (each task merges matching bucket files locally);
    the same join on plain parquet shuffles both sides.  Results are
    identical either way."""
    from pyspark.sql import functions as F

    from greenex_py_spark.engine.bucketing import (
        plan_has_exchange, read_bucketed, write_bucketed,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    scores = docs.select("doc_id", (F.col("n_chars") % 97).alias("score"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(docs, "t_docs_b", "doc_id", buckets=8)
        write_bucketed(scores, "t_scores_b", "doc_id", buckets=8)
        joined_b = read_bucketed(spark, "t_docs_b").join(
            read_bucketed(spark, "t_scores_b"), "doc_id"
        )
        assert not plan_has_exchange(joined_b), joined_b._jdf.queryExecution().executedPlan().toString()

        p1 = str(tmp_path / "docs_plain")
        p2 = str(tmp_path / "scores_plain")
        docs.write.parquet(p1)
        scores.write.parquet(p2)
        joined_p = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
        assert plan_has_exchange(joined_p)

        a = joined_b.orderBy("doc_id").toPandas()
        b = joined_p.orderBy("doc_id").toPandas()
        assert a.equals(b[a.columns])
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_scores_b")


def test_web_corpus_pipeline_end_to_end_and_resume(spark, tmp_path):
    """The composed curation pipeline: extract -> quality -> URL dedup ->
    exact dedup -> enrich, every stage a resumable snapshot.  Planted
    URL-variant and exact-text duplicates must each collapse to one
    representative; a second run with the same fingerprint recomputes
    NOTHING (all stages resumed); a new fingerprint recomputes all."""
    from pyspark.sql import functions as F

    from greenex_py_spark.data import synth
    from greenex_py_spark.pipelines.web_corpus import run_web_corpus_pipeline

    base = synth.documents(spark, 200).withColumn(
        "doc_id", F.monotonically_increasing_id()
    ).select("doc_id", "url", "warc_ts", "html", "text")
    # planted: exact-text dup under a different url (survives URL dedup,
    # dies in text dedup) + URL variant (dies in URL dedup)
    chosen = base.filter(F.col("doc_id") == 7)
    text_dup = chosen.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.lit("https://other.example/"), F.col("url")).alias("url"),
        "warc_ts", "html", "text",
    )
    url_dup = chosen.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.col("url"), F.lit("?utm_source=feed#top")).alias("url"),
        "warc_ts", "html",
        F.concat(F.col("text"), F.lit(" altered tail")).alias("text"),
    )
    # html must match text for the planted rows too
    def with_html(df):
        return df.withColumn(
            "html",
            F.encode(F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8"),
        )

    pages = with_html(base.unionByName(text_dup).unionByName(url_dup))

    out1, stats1 = run_web_corpus_pipeline(spark, pages, str(tmp_path / "s"), "fp-A")
    r1 = out1.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert not any(s["resumed"] for s in stats1)
    ids = set(r1.doc_id)
    assert 10_000 + 7 not in ids  # exact-text dup collapsed (rep = min id 7)
    assert 20_000 + 7 not in ids  # URL variant collapsed
    assert {"pred_lang", "split", "x", "y", "cell", "quality"} <= set(r1.columns)
    assert (r1.quality >= 0.05).all()

    out2, stats2 = run_web_corpus_pipeline(spark, pages, str(tmp_path / "s"), "fp-A")
    r2 = out2.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert all(s["resumed"] for s in stats2)
    assert r1.equals(r2[r1.columns])

    _, stats3 = run_web_corpus_pipeline(spark, pages, str(tmp_path / "s"), "fp-B")
    assert not any(s["resumed"] for s in stats3)


def _xy2d_ref(order, x, y):
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_walk(spark):
    """Engine Hilbert index == the classic xy2d on a full 16x16 grid
    (bijective onto 0..255, unit-step adjacency implied by equality)."""
    from greenex_py_spark.engine.layout import with_hilbert_key

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "gx long, gy long")
    got = {
        (r["gx"], r["gy"]): r["hkey"]
        for r in with_hilbert_key(df, order=4).collect()
    }
    for (x, y), hd in got.items():
        assert hd == _xy2d_ref(4, x, y), (x, y)
    assert sorted(got.values()) == list(range(256))


def test_stream_stream_join_matches_batch_across_runs(spark, tmp_path):
    """Watermarked inner stream-stream join: a right-side event arriving
    in a LATER AvailableNow run still joins a left row from the first
    run (join state survives in the checkpoint), a pair beyond the
    1-hour horizon never emits, and an unmatched key emits nothing —
    the exact match set of the batch range join."""
    import os

    import pandas as pd

    from greenex_py_spark.streaming.join import stream_stream_join

    srcl = str(tmp_path / "l")
    srcr = str(tmp_path / "r")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(srcl)
    os.makedirs(srcr)
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")

    def mk(rows):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[2] for r in rows]),
                "user_id": [r[1] for r in rows],
                "event_type": "e",
                "value": 1.0,
                "props": "",
            }
        )

    def write(df, d):
        spark.createDataFrame(df, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    # run 1: two views, one purchase (matches view 10 within the hour)
    write(mk([(10, 1, "2023-06-01 10:00:00"),
              (11, 2, "2023-06-01 10:00:00")]), srcl)
    write(mk([(20, 1, "2023-06-01 10:30:00")]), srcr)
    stream_stream_join(spark, srcl, srcr, sink, ckpt)
    first = spark.read.parquet(sink).collect()
    assert {(r.l_id, r.r_id) for r in first} == {(10, 20)}

    # run 2: right-side delta only — user 2 converts 45 min after a
    # run-1 view (cross-run state match), user 1 again at +90 min
    # (beyond the horizon), user 3 has no view at all
    write(mk([(21, 2, "2023-06-01 10:45:00"),
              (22, 1, "2023-06-01 11:30:00"),
              (23, 3, "2023-06-01 10:10:00")]), srcr)
    stream_stream_join(spark, srcl, srcr, sink, ckpt)
    got = {(r.l_id, r.r_id) for r in spark.read.parquet(sink).collect()}
    assert got == {(10, 20), (11, 21)}


def test_geohash_matches_published_values(spark):
    """Codegen geohash == published reference hashes (the classic
    ezs42 example, NYC, Greenwich) at precision 7 and a truncation
    consistency check (precision 5 is a prefix of precision 7)."""
    from pyspark.sql import functions as F

    from greenex_py_spark.engine.layout import (
        geohash_from_key, geohash_quantize, zorder_key,
    )

    df = spark.createDataFrame(
        [(-5.6, 42.6), (-74.0060, 40.7128), (0.0, 0.0)],
        "lon double, lat double",
    )

    def gh(prec):
        lon_q, lat_q = geohash_quantize(F.col("lon"), F.col("lat"), prec)
        k = df.withColumn("ghk", zorder_key(lon_q, lat_q))
        return [
            r.gh for r in k.select(
                geohash_from_key(F.col("ghk"), prec).alias("gh")
            ).collect()
        ]

    g7 = gh(7)
    assert g7[0].startswith("ezs42")      # the RFC example point
    assert g7[1] == "dr5regw"             # NYC, published 7-char hash
    assert g7[2] == "s000000"             # (0, 0): first cell past both axes
    assert [g[:5] for g in g7] == gh(5)   # prefix property


def test_global_rank_is_exact_permutation(spark):
    """Regression for the double-evaluation range-exchange bug (see
    BENCH/SCALE_AUDIT.md): offsets and local ranks must come from ONE
    materialized partitioning, so ranks are exactly 1..n under the
    total order — no duplicates, no rank past n — and cumsum totals
    telescope."""
    from greenex_py_spark.engine.rank import global_cumsum, global_rank

    n = 5000
    df = spark.range(n).select(
        ((F.col("id") * 48271) % 100003).alias("k"), F.col("id").alias("uid")
    ).repartition(16)
    r = global_rank(df, ["k", "uid"], "rnk").toPandas()
    assert sorted(r.rnk) == list(range(1, n + 1))
    srt = r.sort_values(["k", "uid"]).reset_index(drop=True)
    assert (srt.rnk == srt.index + 1).all()
    c = global_cumsum(
        df.withColumn("v", F.lit(1)), ["k", "uid"], "v", "cum"
    ).toPandas()
    assert sorted(c.cum) == list(range(1, n + 1))


def test_complete_mode_state_spans_runs(spark, tmp_path):
    """COMPLETE-mode aggregate to the memory sink: after draining two
    appended batches through the SAME checkpoint, the final table
    equals the batch groupBy over EVERYTHING written — i.e. the
    unwatermarked state really carries totals across restarts instead
    of re-emitting only the new rows."""
    import os

    import pandas as pd

    from greenex_py_spark.streaming.complete import complete_type_counts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def mk(rows):
        return pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.to_datetime(["2023-06-01 10:00:00"] * len(rows)),
                "user_id": 1,
                "event_type": [r[0] for r in rows],
                "value": [r[1] for r in rows],
                "props": "",
            }
        )

    b1 = mk([("view", 1.25), ("view", 0.5), ("click", 2.0)])
    spark.createDataFrame(b1, schema=schema).coalesce(1).write.mode(
        "append").parquet(src)
    complete_type_counts(spark, src, ckpt, query_name="tc_test")
    b2 = mk([("view", 0.25), ("buy", 10.0)])
    spark.createDataFrame(b2, schema=schema).coalesce(1).write.mode(
        "append").parquet(src)
    out = complete_type_counts(spark, src, ckpt, query_name="tc_test")
    got = {r["event_type"]: (r["n"], r["value_q"]) for r in out.collect()}
    assert got == {
        "view": (3, 2_000_000),
        "click": (1, 2_000_000),
        "buy": (1, 10_000_000),
    }


def test_transform_with_state_surface(spark):
    """transformWithStateInPandas (Spark-4 state v2): the processor
    and plan build; the RUN is environment-gated on protobuf (the
    state-server protocol) — executed when available, otherwise the
    documented initialization failure is asserted instead."""
    import os
    import shutil
    import tempfile

    import pytest

    from greenex_py_spark.streaming.tws import (
        RunningTotalsProcessor, running_user_totals,
    )
    from pyspark.sql import functions as F

    try:
        from google.protobuf import descriptor  # noqa: F401
        have_pb = True
    except ImportError:
        have_pb = False

    base = tempfile.mkdtemp()
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    try:
        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).select("event_id", "ts", "user_id", "event_type", "value",
                 "props")
        ev.filter("event_id % 2 = 0").coalesce(1).write.mode(
            "append").parquet(src)
        ev.filter("event_id % 2 = 1").coalesce(1).write.mode(
            "append").parquet(src)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        if not have_pb:
            with pytest.raises(Exception, match="TransformWithState"):
                running_user_totals(spark, src, ckpt, "tws_gate_t")
            return
        out = running_user_totals(spark, src, ckpt, "tws_gate_t")
        got = {r["user_id"]: (r["n_events"], r["value_q"])
               for r in out.collect()}
        want = {r["user_id"]: (r["n"], r["vq"])
                for r in ev.groupBy("user_id").agg(
                    F.count("*").alias("n"),
                    F.sum(F.floor(F.col("value") * 1e6 + 0.5)
                          .cast("long")).alias("vq")).collect()}
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_localcheckpoint_fresh_resets_plan_stats(spark):
    """The stats-resetting checkpoint behind engine/iterate.fixpoint
    (BENCH/SCALE_AUDIT.md): plain localCheckpoint carries the old plan's
    sizeInBytes into the LogicalRDD (so iterative self-joins compound it
    k^rounds); localcheckpoint_fresh must return (a) identical rows,
    (b) a plan whose sizeInBytes is back to the 63-bit default, (c) a
    frame over the checkpointed InternalRow RDD itself — no Row round
    trip, no recomputation.  fixpoint must keep the stats reset across
    self-join rounds, stop after the round whose ``converged`` is true
    (or whose step returns its input), and never exceed max_rounds."""
    from pyspark.sql import functions as F

    from greenex_py_spark.engine.iterate import fixpoint, localcheckpoint_fresh

    def bits(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    a = spark.createDataFrame(
        [("x", 1), ("y", 2)], "i string, v long"
    ).localCheckpoint()
    big = (
        a.join(a.withColumnsRenamed({"v": "v2"}), "i")
        .join(a.withColumnsRenamed({"v": "v3"}), "i")
    )
    assert bits(big) > 100  # joins compound the default-sized inputs
    # plain localCheckpoint inherits the compounded stats (the hazard)
    assert bits(big.localCheckpoint()) > 100
    fresh = localcheckpoint_fresh(big)
    assert bits(fresh) <= 64  # reset to default
    got = sorted(tuple(r) for r in fresh.collect())
    want = sorted(tuple(r) for r in big.collect())
    assert got == want
    assert fresh.count() == 2 == fresh.count()  # stable re-evaluation
    rdd = fresh._jdf.queryExecution().analyzed().rdd()
    assert rdd.isCheckpointed()  # the checkpoint's own RDD, not a copy
    assert "toJavaRDD" not in rdd.toDebugString()

    steps = []

    def square(df, r):
        steps.append(r)
        return df.join(df.withColumnsRenamed({"v": "w"}), "i").select(
            "i", (F.col("v") + F.col("w")).alias("v")
        )

    out = fixpoint(a, square, 3)
    assert steps == [0, 1, 2]  # never more than max_rounds
    assert sorted(tuple(r) for r in out.collect()) == [("x", 8), ("y", 16)]
    assert bits(out) <= 64  # no compounding across the rounds
    steps.clear()
    out = fixpoint(a, square, 10, lambda prev, cur: cur.agg(F.max("v")).first()[0] >= 8)
    assert steps == [0, 1]  # stops after the round that converged
    assert sorted(tuple(r) for r in out.collect()) == [("x", 4), ("y", 8)]
    steps.clear()
    assert fixpoint(a, lambda df, r: steps.append(r) or df, 10) is a
    assert steps == [0]  # a step returning its input ends the loop
