"""Change-feed streaming + multimodal plumbing tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


def run_until(q, done, max_seconds=120.0, settle_seconds=2.0):
    """Drive a streaming query until ``done()`` is truthy (plus a settle
    window for trailing timer sweeps), then stop it.

    A query holding processing-time timers never self-terminates — even
    under trigger(availableNow): the pending timers keep scheduling batches
    — so waiting on awaitTermination either hangs or silently burns its full
    timeout. Polling the test's own observable condition is the only
    reliable drain."""
    deadline = time.time() + max_seconds
    try:
        while time.time() < deadline and not done():
            time.sleep(0.3)
        assert done(), "streaming condition not reached in time"
        time.sleep(settle_seconds)
    finally:
        q.stop()
        q.awaitTermination(30)


def test_changefeed_and_callbacks(spark, tmp_path):
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.streaming.changefeed import attach_changefeed

    db = CozoDb(spark)
    feed = attach_changefeed(db, str(tmp_path / "spool"))
    events = []
    feed.register_callback("kv", lambda op, rows: events.append((op, len(rows))))
    # three-argument callbacks also receive the OLD rows (replaced on put,
    # removed on rm) — reference runtime/callback.rs delivers (op, new, old)
    old_events = []
    feed.register_callback(
        "kv", lambda op, rows, old: old_events.append((op, len(rows), len(old))))

    db.run_script(":create kv {k: Int => v: String}")
    db.run_script("?[k, v] <- [[1, 'a'], [2, 'b']] :put kv {k => v}")
    db.run_script("?[k, v] <- [[1, 'z']] :put kv {k => v}")  # replaces k=1
    db.run_script("?[k] <- [[1]] :rm kv {k}")
    feed.flush()  # async dispatch (r10): drain before asserting

    assert events == [("put", 2), ("put", 1), ("rm", 1)]
    # old rows: first put replaces nothing, second replaces one, rm removes one
    assert old_events == [("put", 2, 0), ("put", 1, 1), ("rm", 1, 1)]
    log = feed.batch(spark).orderBy("ts")
    ops = [r["op"] for r in log.collect()]
    assert ops.count("put") == 3 and ops.count("rm") == 1


def test_callback_unregister_during_dispatch_no_skip(spark, tmp_path):
    """ADVICE r9 medium: a callback that unregisters ITSELF mid-dispatch
    (the SSE overflow path) must not make the dispatcher skip the next
    subscriber in the list — dispatch iterates a snapshot."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.streaming.changefeed import attach_changefeed

    db = CozoDb(spark)
    feed = attach_changefeed(db, str(tmp_path / "spool_skip"))
    first_seen, second_seen = [], []

    def overflowing(op, rows):
        first_seen.append(op)
        feed.unregister_callback("kv2", overflowing)  # SSE overflow shape

    feed.register_callback("kv2", overflowing)
    feed.register_callback("kv2", lambda op, rows: second_seen.append(op))

    db.run_script(":create kv2 {k: Int => v: Int}")
    db.run_script("?[k, v] <- [[1, 10]] :put kv2 {k => v}")
    feed.flush()  # deliver (and self-unregister) before the next record
    db.run_script("?[k, v] <- [[2, 20]] :put kv2 {k => v}")
    feed.flush()

    assert first_seen == ["put"]             # removed after its first event
    assert second_seen == ["put", "put"], \
        "healthy subscriber lost an event to a neighbour's unregister"


def test_changefeed_structured_stream(spark, tmp_path):
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.streaming.changefeed import attach_changefeed

    db = CozoDb(spark)
    feed = attach_changefeed(db, str(tmp_path / "spool2"))
    db.run_script(":create ev {k: Int => v: Int}")
    for i in range(3):
        db.run_script(f"?[k, v] <- [[{i}, {i * 10}]] :put ev {{k => v}}")
    feed.flush()  # spool files must exist before the availableNow drain

    # windowed count over the stream, drained with availableNow
    s = feed.stream(spark, "ev")
    agg = s.groupBy("relation", "op").count()
    q = (agg.writeStream.format("memory").queryName("feed_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = {(r["relation"], r["op"]): r["count"]
            for r in spark.sql("select * from feed_counts").collect()}
    assert rows[("ev", "put")] == 3


@pytest.fixture()
def media(spark):
    from cozo_spark.operators.multimodal import MEDIA_SCHEMA

    rows = [
        (1, "image/png", b"\x89PNG-fake-1", {"width": 64, "height": 64,
                                             "duration_ms": None, "sample_rate": None}),
        (2, "image/png", b"\x89PNG-fake-2", {"width": 32, "height": 32,
                                             "duration_ms": None, "sample_rate": None}),
        (3, "video/mp4", b"vid-fake", {"width": 640, "height": 480,
                                       "duration_ms": 3500, "sample_rate": None}),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features(media):
    from cozo_spark.operators.multimodal import extract_image_features

    out = extract_image_features(media.filter("media_type = 'image/png'"), fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bytes"] == len(b"\x89PNG-fake-1")
    assert len(rows[1]["features"]) == 8
    # deterministic: same content → same features
    out2 = {r["media_id"]: r["features"]
            for r in extract_image_features(media.filter("media_id = 1"), fake=True).collect()}
    assert out2[1] == list(rows[1]["features"])
    # unit norm
    assert sum(x * x for x in rows[1]["features"]) == pytest.approx(1.0, abs=1e-5)


def test_real_decode_is_gated_for_compressed_formats(spark):
    """PNG/WAV/JPEG/GIF, lossless WebP (r7), and — when the system libwebp
    is present — lossy VP8 (r8) decode for real; a CORRUPT lossy payload
    must error cleanly from the executor kernel either way, and MP3 PCM
    still gates on the genuinely missing library."""
    import struct as _s

    from cozo_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_audio_features, extract_image_features)

    lossy_vp8 = (b"RIFF" + _s.pack("<I", 16) + b"WEBP"
                 + b"VP8 " + _s.pack("<I", 4) + b"\x00" * 4)
    rows = [(9, "image/webp", lossy_vp8,
             {"width": 8, "height": 8, "duration_ms": None,
              "sample_rate": None}),
            (10, "audio/mpeg", b"ID3-fake",
             {"width": None, "height": None, "duration_ms": 1000,
              "sample_rate": 44100})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with pytest.raises(
            Exception,
            match="codec library|NotImplementedError|could not decode|"
                  "libwebp"):
        extract_image_features(
            media.filter("media_type = 'image/webp'"), fake=False).collect()
    with pytest.raises(Exception, match="codec library|NotImplementedError"):
        extract_audio_features(
            media.filter("media_type = 'audio/mpeg'"), fake=False).collect()


def test_jpeg_real_decode_end_to_end(spark):
    """Baseline JPEG decodes for REAL through the mapInPandas feature
    kernel (operators/jpeg.py), same shape as the PNG path."""
    import numpy as np

    from cozo_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from cozo_spark.operators.multimodal import (
        MEDIA_SCHEMA, _raw_features, extract_image_features)

    rng = np.random.default_rng(3)
    img = (rng.integers(0, 255, size=(16, 24, 3)).astype(np.uint8)
           // 4 * 4)
    data = encode_jpeg(img)
    rows = [(1, "image/jpeg", data,
             {"width": 24, "height": 16, "duration_ms": None,
              "sample_rate": None})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_image_features(media, fake=False).collect()
    assert len(out) == 1
    exp = _raw_features(decode_jpeg(data))
    got = list(out[0]["features"])
    assert len(got) == len(exp)
    # features ride an array<float> column — compare at f32 precision
    assert all(abs(a - b) < 1e-6 for a, b in zip(got, exp))


def test_png_real_decode_end_to_end(spark):
    """PNG decodes for REAL through the mapInPandas feature kernel —
    stdlib zlib/struct only — and the features are exact numpy statistics
    of the decoded pixels."""
    import numpy as np

    from cozo_spark.operators.multimodal import (
        MEDIA_SCHEMA, _raw_features, decode_png, encode_png,
        extract_image_features)

    rng = np.random.default_rng(11)
    img1 = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    img2 = np.zeros((8, 8, 3), dtype=np.uint8)
    img2[..., 0] = 255  # pure red
    rows = [
        (1, "image/png", encode_png(img1),
         {"width": 16, "height": 16, "duration_ms": None, "sample_rate": None}),
        (2, "image/png", encode_png(img2),
         {"width": 8, "height": 8, "duration_ms": None, "sample_rate": None}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: list(r["features"])
           for r in extract_image_features(media, fake=False).collect()}
    assert got[1] == pytest.approx(_raw_features(img1), abs=1e-6)
    # red image: channel means (1, 0, 0), zero stds, luma = 0.2126
    assert got[2][0] == pytest.approx(1.0)
    assert got[2][1] == pytest.approx(0.0)
    assert got[2][6] == pytest.approx(0.2126, abs=1e-4)
    # decode is the exact inverse of encode
    assert np.array_equal(decode_png(encode_png(img1)), img1)


def test_wav_real_audio_features_end_to_end(spark):
    """WAV decodes for REAL through the mapInPandas audio kernel (stdlib
    `wave`): sample rate, duration, RMS and zero-crossing rate are exact
    signal statistics."""
    import numpy as np

    from cozo_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_wav, extract_audio_features)

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = 0.5 * np.sin(2 * np.pi * 100 * t)
    silence = np.zeros(rate // 2)  # 0.5 s
    rows = [
        (1, "audio/wav", encode_wav(sine, rate),
         {"width": None, "height": None, "duration_ms": None, "sample_rate": rate}),
        (2, "audio/wav", encode_wav(silence, rate),
         {"width": None, "height": None, "duration_ms": None, "sample_rate": rate}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r
           for r in extract_audio_features(media, fake=False).collect()}
    assert got[1]["sample_rate"] == rate
    assert got[1]["duration_ms"] == 1000
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2); 100 Hz → ~200 crossings/s
    assert got[1]["rms"] == pytest.approx(0.5 / 2 ** 0.5, abs=1e-3)
    assert got[1]["zero_cross_rate"] == pytest.approx(200 / rate, rel=0.05)
    assert got[2]["duration_ms"] == 500
    assert got[2]["rms"] == 0.0
    assert got[2]["peak"] == 0.0


def test_raw_rgb_real_decode_features_and_resize(spark):
    """image/x-raw-rgb is the lib-free REAL path: decode, per-channel
    statistics, and nearest-neighbour resize are exact numpy results, run
    through the same mapInPandas kernels as any other format."""
    import numpy as np

    from cozo_spark.operators.multimodal import (
        MEDIA_SCHEMA, RAW_RGB_TYPE, decode_raw_rgb, encode_raw_rgb,
        extract_image_features, resize_images)

    rng = np.random.RandomState(7)
    img1 = rng.randint(0, 256, (16, 12, 3), dtype=np.uint8)
    img2 = np.zeros((4, 4, 3), dtype=np.uint8)
    img2[..., 0] = 255  # pure red
    rows = [
        (1, RAW_RGB_TYPE, bytearray(encode_raw_rgb(img1)),
         {"width": 12, "height": 16, "duration_ms": None, "sample_rate": None}),
        (2, RAW_RGB_TYPE, bytearray(encode_raw_rgb(img2)),
         {"width": 4, "height": 4, "duration_ms": None, "sample_rate": None}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r["media_id"]: r["features"]
             for r in extract_image_features(media, fake=False).collect()}
    # pure red: mean = (1, 0, 0), std = 0, luma = 0.2126, zero gradient
    f2 = feats[2]
    assert abs(f2[0] - 1.0) < 1e-6 and abs(f2[1]) < 1e-6 and abs(f2[2]) < 1e-6
    assert abs(f2[6] - 0.2126) < 1e-4 and abs(f2[7]) < 1e-6
    # img1: exact channel means
    expect = img1.astype("float64").mean(axis=(0, 1)) / 255.0
    assert all(abs(feats[1][i] - expect[i]) < 1e-6 for i in range(3))

    resized = {r["media_id"]: bytes(r["content"])
               for r in resize_images(media, width=6, height=8).collect()}
    out1 = decode_raw_rgb(resized[1])
    assert out1.shape == (8, 6, 3)
    # nearest-neighbour: pixel (y, x) comes from (y*16//8, x*12//6)
    assert (out1 == img1[(np.arange(8) * 2)[:, None],
                         (np.arange(6) * 2)[None, :]]).all()


def test_frame_sampling(media):
    from cozo_spark.operators.multimodal import sample_frames

    out = sample_frames(media.filter("media_type = 'video/mp4'"), every_ms=1000)
    rows = sorted((r["frame_idx"], r["frame_ts_ms"]) for r in out.collect())
    assert rows == [(0, 0), (1, 1000), (2, 2000)]  # 3500ms → 3 frames


def test_repartition_for_blobs(media):
    from cozo_spark.operators.multimodal import repartition_for_blobs

    sized = media.withColumn("n_bytes", F.length("content").cast("long"))
    out = repartition_for_blobs(sized, target_bytes_per_partition=8)
    assert out.rdd.getNumPartitions() >= 2
    assert out.count() == 3


def test_stateful_running_counts_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-key state persists across micro-batches
    AND across query restarts via the checkpoint."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.streaming.changefeed import attach_changefeed
    from cozo_spark.streaming.stateful import running_counts

    db = CozoDb(spark)
    feed = attach_changefeed(db, str(tmp_path / "spool3"))
    db.run_script(":create sv {k: Int => v: Int}")
    for i in range(3):
        db.run_script(f"?[k, v] <- [[{i}, {i}]] :put sv {{k => v}}")
    feed.flush()

    ckpt = str(tmp_path / "ckpt")

    def drain():
        got = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                got[r["key"]] = r["n"]

        out = running_counts(feed.stream(spark, "sv"), "op")
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return got

    assert drain()["put"] == 3

    # two more mutations, restart the query on the same checkpoint:
    # state resumes at 3 and counts through to 5
    for i in (10, 11):
        db.run_script(f"?[k, v] <- [[{i}, {i}]] :put sv {{k => v}}")
    feed.flush()
    assert drain()["put"] == 5


def test_stateful_stream_sessionize_timeout(spark, tmp_path):
    """stream_sessionize: events accumulate into per-key session state;
    the processing-time timeout sweep (run by the engine on the drain's
    final batch) closes and emits the session with its event count."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.streaming.changefeed import attach_changefeed
    from cozo_spark.streaming.stateful import stream_sessionize

    db = CozoDb(spark)
    feed = attach_changefeed(db, str(tmp_path / "spool4"))
    db.run_script(":create zv {k: Int => v: Int}")
    db.run_script("?[k, v] <- [[1, 1], [2, 2]] :put zv {k => v}")
    feed.flush()

    ckpt = str(tmp_path / "ckpt4")
    got = []

    def drain():
        # the 1s session timers keep the availableNow query alive past its
        # last data batch, so awaitTermination would burn its full timeout —
        # poll for the expected emission instead (run_until)
        before = len(got)

        def sink(batch_df, _bid):
            got.extend((r["key"], r["n_events"]) for r in batch_df.collect())
        out = stream_sessionize(feed.stream(spark, "zv"), "op", "ts", gap_seconds=1.0)
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        run_until(q, lambda: len(got) > before, settle_seconds=0.5)

    drain()
    assert got == [("put", 2)]  # both events in ONE session, closed by sweep

    # a later, separate burst forms a NEW session (state was cleared)
    db.run_script("?[k] <- [[2]] :rm zv {k}")
    feed.flush()
    drain()
    assert got.count(("put", 2)) == 1 and ("rm", 1) in got


def test_stream_exact_dedup_and_quality_filter(spark, tmp_path):
    """Streaming dedup (first occurrence wins across micro-batches) and the
    stateless quality gate compose on a file stream."""
    import json
    import os
    import time

    from cozo_spark.streaming.stateful import (stream_exact_dedup,
                                               stream_quality_filter)

    src = tmp_path / "src"
    src.mkdir()
    schema = "id LONG, text STRING"
    rows1 = [{"id": 1, "text": "the quick brown fox jumps over things"},
             {"id": 2, "text": "the quick brown fox jumps over things"},
             {"id": 3, "text": "the the the the the the"},
             {"id": 4, "text": "short"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    stream = spark.readStream.schema(schema).json(str(src))
    out = stream_quality_filter(stream_exact_dedup(stream), min_words=3)
    q = (out.writeStream.format("memory").queryName("dedup_q")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        # batch 2: a repeat of doc 1's content plus a fresh doc
        rows2 = [{"id": 5, "text": "the quick brown fox jumps over things"},
                 {"id": 6, "text": "completely fresh content appears here now"}]
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
        q.processAllAvailable()
        got = {r["id"] for r in spark.sql("SELECT * FROM dedup_q").collect()}
    finally:
        q.stop()
    # 2 deduped (same content as 1), 3 fails stopword gate, 4 too short,
    # 5 deduped ACROSS batches, 6 fresh
    assert got == {1, 6}


def test_stream_dedup_with_watermark_bounded_state(spark, tmp_path):
    """Watermarked variant: dedup key is the content hash ALONE
    (dropDuplicatesWithinWatermark), so same content at different event
    times within the watermark still dedups; state stays bounded."""
    import json

    from cozo_spark.streaming.stateful import stream_exact_dedup

    src = tmp_path / "src2"
    src.mkdir()
    rows = [{"id": 1, "text": "same content", "ts": "2024-01-01T10:00:00"},
            {"id": 2, "text": "same content", "ts": "2024-01-01T10:05:00"},
            {"id": 3, "text": "other content", "ts": "2024-01-01T10:06:00"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (spark.readStream.schema("id LONG, text STRING, ts STRING")
              .json(str(src))
              .withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts")))
    out = stream_exact_dedup(stream, ts_col="ts", watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("wm_dedup")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2")).start())
    try:
        q.processAllAvailable()
        got = {r["id"] for r in spark.sql("SELECT * FROM wm_dedup").collect()}
    finally:
        q.stop()
    assert 3 in got and len(got) == 2  # one of 1/2 kept, 3 kept


def test_stream_neardup_candidates_across_batches(spark, tmp_path):
    """Streaming MinHash-LSH near-dup: a doc arriving in a later micro-batch
    whose band buckets are already occupied gets flagged with the earlier
    occupant; unrelated content does not collide."""
    import json

    from cozo_spark.streaming.stateful import stream_neardup_candidates

    src = tmp_path / "nd_src"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    ckpt = str(tmp_path / "nd_ck")
    got = []
    # state-store count == shuffle partitions; 4 docs don't need 32 stores
    # (the partition count is baked into the checkpoint at first start).
    # No TTL here: a pending processing-time timer keeps an availableNow
    # query alive until it fires — TTL eviction has its own test below.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def drain():
        def sink(batch_df, _bid):
            got.extend((r["doc_id"], r["first_doc_id"])
                       for r in batch_df.collect())
        stream = (spark.readStream.schema("doc_id LONG, text STRING")
                  .json(str(src)))
        out = stream_neardup_candidates(stream)
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)

    rows1 = [{"doc_id": 1, "text": base},
             {"doc_id": 10, "text": "completely different material about "
                                    "distributed query engines and plans"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    drain()
    # restart on the same checkpoint: bucket state survives; a near-dup of
    # doc 1 (one word changed) collides, fresh content does not
    rows2 = [{"doc_id": 2, "text": base.replace("lazy", "sleepy")},
             {"doc_id": 20, "text": "unrelated fresh text with nothing "
                                    "in common with either document"}]
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    try:
        drain()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    pairs = set(got)
    assert (2, 1) in pairs          # near-dup flagged against history
    flagged = {d for d, _ in pairs}
    assert 20 not in flagged and 10 not in flagged


def test_stream_neardup_ttl_evicts_buckets(spark, tmp_path):
    """With bucket_ttl_seconds, idle band buckets are evicted by the
    processing-time timer: after the TTL elapses (and a batch runs so the
    timers fire), a later near-dup no longer collides — bounded state for
    unbounded streams."""
    import json
    import time

    from cozo_spark.streaming.stateful import stream_neardup_candidates

    src = tmp_path / "ttl_src"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    got = []
    rows_seen = [0]
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def sink(batch_df, _bid):
        rows = batch_df.collect()
        rows_seen[0] += 1  # count batches, incl. empty timer sweeps
        got.extend((r["doc_id"], r["first_doc_id"]) for r in rows)

    try:
        (src / "b1.json").write_text(json.dumps({"doc_id": 1, "text": base}))
        stream = (spark.readStream.schema("doc_id LONG, text STRING")
                  .json(str(src)))
        out = stream_neardup_candidates(stream, bucket_ttl_seconds=1.0)
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ttl_ck"))
             .outputMode("append")
             .trigger(processingTime="500 milliseconds").start())

        def progressed(n):
            return lambda: (q.lastProgress or {}).get("batchId", -1) >= n

        # batch with doc 1 processed, then > 1s of further batches so the
        # 1s bucket timers fire and evict doc 1's buckets
        run_until_batch = progressed(0)
        deadline = time.time() + 60
        while time.time() < deadline and not run_until_batch():
            time.sleep(0.3)
        time.sleep(3.0)  # timer sweep batches run at the 500ms trigger
        (src / "b3.json").write_text(json.dumps(
            {"doc_id": 2, "text": base.replace("lazy", "sleepy")}))
        last = (q.lastProgress or {}).get("batchId", 0)
        deadline = time.time() + 60
        while time.time() < deadline and not progressed(last + 2)():
            time.sleep(0.3)
        q.stop()
        q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    # doc 2 arrives after doc 1's buckets were evicted: no collision
    assert all(d != 2 for d, _ in got), got


def test_stream_minhash_sig_matches_batch(spark):
    """The streaming per-row signature equals the batch operator's signature
    for the same document — a doc flagged by the stream is exactly a doc the
    batch LSH pipeline would pair."""
    from pyspark.sql import functions as F

    from cozo_spark.operators.dedup import minhash_signatures
    from cozo_spark.streaming.stateful import _stream_minhash_sig

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "some other words to hash for the comparison test")],
        "doc_id long, text string")
    batch = {r["doc_id"]: list(r["sig"])
             for r in minhash_signatures(d).collect()}
    stream_expr = {r["doc_id"]: list(r["s"])
                   for r in d.select("doc_id",
                                     _stream_minhash_sig("text", 64, 3)
                                     .alias("s")).collect()}
    assert batch == stream_expr


def test_stream_windowed_counts_drops_late_rows(spark, tmp_path):
    """Tumbling 1-min windows with a 2-min watermark: a row arriving after
    the watermark passed its window is dropped; windows emit exactly once
    (append mode) with correct counts."""
    import json

    from cozo_spark.streaming.stateful import stream_windowed_counts

    src = tmp_path / "wsrc"
    src.mkdir()
    b1 = [{"id": 1, "k": "a", "ts": "2024-01-01T10:00:10"},
          {"id": 2, "k": "a", "ts": "2024-01-01T10:00:40"},
          {"id": 3, "k": "b", "ts": "2024-01-01T10:01:20"},
          # advances the watermark far past the 10:00 and 10:01 windows
          {"id": 4, "k": "a", "ts": "2024-01-01T10:30:00"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    stream = (spark.readStream.schema("id LONG, k STRING, ts STRING")
              .json(str(src))
              .withColumn("ts", F.to_timestamp("ts")))
    out = stream_windowed_counts(stream, "ts", key_col="k",
                                 window_duration="1 minute",
                                 watermark="2 minutes")
    q = (out.writeStream.format("memory").queryName("win_counts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wck")).start())
    try:
        q.processAllAvailable()
        # a straggler for the long-closed 10:00 window: must be dropped
        (src / "b2.json").write_text(json.dumps(
            {"id": 5, "k": "a", "ts": "2024-01-01T10:00:50"}))
        q.processAllAvailable()
        rows = {(str(r["window_start"])[11:16], r["k"]): r["n"]
                for r in spark.sql("SELECT * FROM win_counts").collect()}
    finally:
        q.stop()
    assert rows == {("10:00", "a"): 2, ("10:01", "b"): 1}


def test_stream_asof_enrich_across_batches(spark, tmp_path):
    """Quotes arrive in batch 1; trades in batch 2 enrich from the
    retained per-key state. Within-batch: a quote and a later trade in
    the same batch match; a trade OLDER than the retained quote gets
    NULL (the documented no-rewind trade-off)."""
    import json

    from cozo_spark.streaming.stateful import stream_asof_enrich

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir(); rsrc.mkdir()
    (rsrc / "b1.json").write_text(json.dumps(
        {"key": "A", "ts": 10.0, "value": 100.5}))
    left = spark.readStream.schema(
        "key STRING, ts DOUBLE, event_id LONG").json(str(lsrc))
    right = spark.readStream.schema(
        "key STRING, ts DOUBLE, value DOUBLE").json(str(rsrc))
    out = stream_asof_enrich(left, right)
    q = (out.writeStream.format("memory").queryName("asof_s")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
        # batch 2: trade after the quote (match), trade before it (null),
        # plus a same-batch newer quote + trade pair on another key
        (lsrc / "b2.json").write_text("\n".join([
            json.dumps({"key": "A", "ts": 20.0, "event_id": 1}),
            json.dumps({"key": "A", "ts": 5.0, "event_id": 2}),
            json.dumps({"key": "B", "ts": 8.0, "event_id": 3})]))
        (rsrc / "b2.json").write_text(json.dumps(
            {"key": "B", "ts": 7.0, "value": 50.25}))
        q.processAllAvailable()
        rows = {r["event_id"]: (r["matched_ts"], r["matched_value"])
                for r in spark.sql("SELECT * FROM asof_s").collect()}
    finally:
        q.stop()
    assert rows[1] == (10.0, 100.5)     # state carried across batches
    assert rows[2] == (None, None)      # older than retained quote
    assert rows[3] == (7.0, 50.25)      # same-batch right-before-left


def test_png_adam7_interlaced_decode():
    """Adam7 PNGs (r7 — the last documented PNG gate) decode pixel-exact:
    the interlaced fixture must equal both the source array and its
    non-interlaced twin, across sizes that exercise empty/partial passes."""
    import numpy as np

    from cozo_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(77)
    for h, w in [(1, 1), (3, 5), (8, 8), (7, 9), (16, 17), (33, 31)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        inter = decode_png(encode_png(img, interlace=True))
        np.testing.assert_array_equal(inter, img)
        np.testing.assert_array_equal(inter, decode_png(encode_png(img)))


def test_png_16bit_decode():
    """16-bit non-palette PNGs (r7) decode with the standard high-byte
    reduction, plain and Adam7-interlaced."""
    import numpy as np

    from cozo_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(99)
    img16 = rng.integers(0, 65536, size=(11, 13, 3), dtype=np.uint16)
    want = (img16 >> 8).astype(np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(img16)), want)
    np.testing.assert_array_equal(
        decode_png(encode_png(img16, interlace=True)), want)


def test_png_subbyte_depths():
    """1/2/4-bit gray and palette PNGs (r7 — the last PNG gate) decode,
    plain and Adam7. Fixtures are hand-packed (filter 0, MSB-first)."""
    import struct as _s
    import zlib

    import numpy as np

    from cozo_spark.operators.multimodal import (
        _ADAM7_PASSES, _PNG_SIG, decode_png)

    def chunk(tag, data):
        return (_s.pack(">I", len(data)) + tag + data
                + _s.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    def pack_rows(vals, depth):
        h, w = vals.shape
        out = []
        for y in range(h):
            bits = np.zeros(w * depth, dtype=np.uint8)
            for x in range(w):
                for b in range(depth):
                    bits[x * depth + b] = (int(vals[y, x]) >> (depth - 1 - b)) & 1
            out.append(b"\x00" + np.packbits(bits).tobytes())
        return b"".join(out)

    def build(vals, depth, ctype, plte=None, interlace=0):
        h, w = vals.shape
        ihdr = _s.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        if interlace:
            parts = []
            for x0, y0, dx, dy in _ADAM7_PASSES:
                sub = vals[y0::dy, x0::dx]
                if sub.shape[0] and sub.shape[1]:
                    parts.append(pack_rows(sub, depth))
            raw = b"".join(parts)
        else:
            raw = pack_rows(vals, depth)
        body = chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", plte.tobytes())
        body += chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        return _PNG_SIG + body

    rng = np.random.default_rng(31)
    for depth in (1, 2, 4):
        n = 1 << depth
        vals = rng.integers(0, n, size=(9, 13), dtype=np.uint8)
        # gray: v * 255/(2^d - 1)
        want_gray = np.repeat(
            (vals * (255 // (n - 1))).astype(np.uint8)[..., None], 3, axis=2)
        np.testing.assert_array_equal(
            decode_png(build(vals, depth, 0)), want_gray)
        np.testing.assert_array_equal(
            decode_png(build(vals, depth, 0, interlace=1)), want_gray)
        # palette
        plte = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        np.testing.assert_array_equal(
            decode_png(build(vals, depth, 3, plte=plte)), plte[vals])
        np.testing.assert_array_equal(
            decode_png(build(vals, depth, 3, plte=plte, interlace=1)),
            plte[vals])


def test_wav_24_and_32_bit_pcm():
    """24-bit (3-byte LE, sign-extended) and 32-bit PCM WAVs decode (r7);
    fixtures are hand-built with the stdlib wave module."""
    import io
    import wave

    import numpy as np

    from cozo_spark.operators.multimodal import decode_wav

    vals24 = np.array([0, 1, -1, (1 << 23) - 1, -(1 << 23), 12345, -54321],
                      dtype=np.int64)
    raw24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals24)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(3)
        wf.setframerate(8000)
        wf.writeframes(raw24)
    a, rate = decode_wav(buf.getvalue())
    np.testing.assert_allclose(a, vals24 / float(1 << 23), atol=0)
    assert rate == 8000

    vals32 = np.array([0, (1 << 31) - 1, -(1 << 31), 7, -7], dtype=np.int64)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(4)
        wf.setframerate(16000)
        wf.writeframes(vals32.astype("<i4").tobytes())
    a, rate = decode_wav(buf.getvalue())
    np.testing.assert_allclose(a, vals32 / float(1 << 31), atol=0)
    assert rate == 16000


def test_streaming_state_conf_window(spark, tmp_path):
    """streaming_state_conf (r9): pins spark.sql.shuffle.partitions for
    the queries started inside the window (the value is baked into the
    streaming checkpoint, fixing the number of state-store commit paths
    per batch) and restores the session conf on exit; rocksdb=True
    selects the RocksDB provider and is likewise restored."""
    import os

    from pyspark.sql import functions as F

    from cozo_spark.streaming.stateful import (running_counts,
                                               streaming_state_conf)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = str(tmp_path / "in")
    (spark.range(64).select(F.col("id").alias("doc_id"))
     .repartition(2).write.mode("overwrite").parquet(src))
    with streaming_state_conf(spark, state_partitions=3) as s:
        assert s.conf.get("spark.sql.shuffle.partitions") == "3"
        stream = (s.readStream.schema("doc_id LONG")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        out = running_counts(
            stream.withColumn("k", (F.col("doc_id") % 4).cast("string")),
            "k")
        q = (out.writeStream.format("memory").queryName("sconf9")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    rows = {r["key"]: r["n"] for r in spark.table("sconf9").collect()}
    assert rows == {str(k): 16 for k in range(4)}
    # the pinned partitioning is recorded in the checkpoint's state dir
    state = os.path.join(str(tmp_path / "ck"), "state", "0")
    parts = [d for d in os.listdir(state) if d.isdigit()]
    assert len(parts) == 3, f"3 state-store partitions expected: {parts}"
    saved_provider = None
    try:
        saved_provider = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass")
    except Exception:
        pass
    with streaming_state_conf(spark, state_partitions=2, rocksdb=True) as s:
        assert "RocksDB" in s.conf.get(
            "spark.sql.streaming.stateStore.providerClass")
    try:
        now = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    except Exception:
        now = None
    assert now == saved_provider  # restored (or unset again)


def test_streaming_state_conf_changelog_sets_and_restores(spark):
    """changelog=True selects the RocksDB provider + changelog
    checkpointing inside the window and restores the session confs after."""
    from cozo_spark.streaming.stateful import streaming_state_conf

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    cl_key = ("spark.sql.streaming.stateStore.rocksdb."
              "changelogCheckpointing.enabled")

    def _get(k):
        try:
            return spark.conf.get(k)
        except Exception:
            return None

    before = (_get(prov_key), _get(cl_key), _get("spark.sql.shuffle.partitions"))
    with streaming_state_conf(spark, state_partitions=8, changelog=True):
        assert "RocksDBStateStoreProvider" in spark.conf.get(prov_key)
        assert spark.conf.get(cl_key) == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert (_get(prov_key), _get(cl_key),
            _get("spark.sql.shuffle.partitions")) == before
