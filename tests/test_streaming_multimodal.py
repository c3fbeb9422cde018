"""Streaming mention extraction + multimodal plumbing tests."""

import time

import pytest
from pyspark.sql import functions as F

from pilsner_spark.operators.multimodal import (
    decode_image,
    extract_features_df,
    frame_sample_plan,
    repartition_by_bytes,
    synthetic_media,
)
from pilsner_spark.sources.sample_dictionary import build_sample_model
from pilsner_spark.sources.synth import synth_transcripts


@pytest.fixture(scope="module")
def model():
    return build_sample_model()


def test_streaming_mentions_availablenow(spark, model, tmp_path):
    """File-source stream -> broadcast-model scan -> memory sink: the same
    mention results as batch, via the streaming engine."""
    src = str(tmp_path / "stream_in")
    batch = synth_transcripts(spark, n_convs=30, seed=42)
    batch.write.mode("overwrite").parquet(src)

    from pilsner_spark.streaming.mentions_stream import streaming_mentions

    stream = spark.readStream.schema(batch.schema).parquet(src)
    assert stream.isStreaming
    q = (
        streaming_mentions(stream, model)
        .writeStream.format("memory")
        .queryName("m_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) as n from m_stream").collect()[0]["n"]
    from pilsner_spark.operators.mentions import extract_mentions_df

    expected = extract_mentions_df(batch, model).count()
    assert got == expected and got > 0


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Stream-static decontamination: a parquet doc stream joined against a
    static benchmark flags exactly what the batch operator flags (pinned
    row-for-row), via a broadcast join — no state store."""
    from pilsner_spark.operators.text_filters import decontaminate
    from pilsner_spark.streaming.mentions_stream import streaming_decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon words"),
            (2, "clean document with other content"),
            (3, "prefix alpha beta gamma delta suffix"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon yy")], ["doc_id", "text"]
    )
    src = str(tmp_path / "decon_in")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        streaming_decontaminate(stream, bench, n=4)
        .writeStream.format("memory")
        .queryName("decon_stream")
        .outputMode("update")  # aggregate without watermark: update mode
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_hits, r.first_hit)
        for r in spark.sql("select * from decon_stream").collect()
    }
    expected = {
        r.doc_id: (r.n_hits, r.first_hit) for r in decontaminate(docs, bench, n=4).collect()
    }
    assert got == expected
    assert set(got) == {1, 3}


def test_streaming_windowed_counts(spark, model, tmp_path):
    src = str(tmp_path / "stream_in2")
    batch = synth_transcripts(spark, n_convs=20, seed=7)
    batch.write.mode("overwrite").parquet(src)

    from pilsner_spark.streaming.mentions_stream import windowed_entity_counts

    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        windowed_entity_counts(stream, model, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("w_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from w_stream").collect()
    # append mode emits only watermark-closed windows; correctness of the
    # totals is covered by the batch path — here the streaming query must
    # run, produce the right schema, and respect window bounds
    assert {c for c in spark.table("w_stream").columns} == {"window_start", "window_end", "entity_id", "n_mentions"}
    for r in rows:
        assert (r.window_end.timestamp() - r.window_start.timestamp()) == 3600


def test_multimodal_decode_stub_contract():
    with pytest.raises(NotImplementedError):
        decode_image(b"abc", fake=False)
    f = decode_image(b"abcabc", fake=True)
    assert len(f) == 16 and abs(sum(f) - 1.0) < 1e-4
    assert f == decode_image(b"abcabc", fake=True)


def _ppm(w, h, pixels):
    """Binary P6 payload from an (h, w, 3) nested list."""
    raster = bytes(c for row in pixels for px in row for c in px)
    return b"P6\n# comment\n" + f"{w} {h}\n255\n".encode() + raster


def _bmp24(w, h, pixels_topdown_rgb):
    """Minimal 24-bit uncompressed BMP (bottom-up rows, BGR, 4-byte padded)."""
    import struct as _s

    stride = (w * 3 + 3) // 4 * 4
    raster = b""
    for row in reversed(pixels_topdown_rgb):  # bottom-up
        line = bytes(c for (r, g, b) in row for c in (b, g, r))  # BGR
        raster += line + b"\x00" * (stride - len(line))
    header = b"BM" + _s.pack("<IHHI", 14 + 40 + len(raster), 0, 0, 14 + 40)
    dib = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + dib + raster


def test_real_decode_ppm_pgm_bmp():
    """decode_image_array is REAL for uncompressed formats: exact pixels
    back out, BMP bottom-up/BGR/padding handled, PGM replicated to 3ch."""
    import numpy as np

    from pilsner_spark.operators.multimodal import decode_image_array, pixel_features, resize_nearest

    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]  # 2x2 RGB
    ppm = decode_image_array(_ppm(2, 2, px))
    assert ppm.shape == (2, 2, 3) and ppm.tolist() == [[list(p) for p in row] for row in px]

    bmp = decode_image_array(_bmp24(2, 2, px))
    assert bmp.tolist() == ppm.tolist()  # same image through a different container

    pgm = b"P5\n2 1\n255\n" + bytes([7, 250])
    g = decode_image_array(pgm)
    assert g.tolist() == [[[7, 7, 7], [250, 250, 250]]]

    # real features differ from the byte-histogram stand-in and are stable
    f = decode_image(_ppm(2, 2, px), fake=False)  # no stub path needed
    assert f == pixel_features(ppm) and len(f) == 16
    # resize: nearest-neighbor, exact corner preservation
    big = resize_nearest(ppm, 4, 4)
    assert big.shape == (4, 4, 3)
    assert big[0, 0].tolist() == [255, 0, 0] and big[3, 3].tolist() == [10, 20, 30]


def _wav(samples_by_channel, sample_rate=8000, bits=16, extra_chunk=True):
    """Minimal RIFF/WAVE PCM payload; ``extra_chunk`` plants an odd-sized
    LIST chunk before fmt/data so the word-aligned chunk walk is exercised."""
    import struct as _s

    channels = len(samples_by_channel)
    frames = list(zip(*samples_by_channel))
    if bits == 16:
        data = b"".join(_s.pack("<h", int(v)) for fr in frames for v in fr)
    else:
        data = bytes(int(v) for fr in frames for v in fr)
    fmt = _s.pack("<HHIIHH", 1, channels, sample_rate, sample_rate * channels * bits // 8, channels * bits // 8, bits)
    chunks = b""
    if extra_chunk:
        chunks += b"LIST" + _s.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size -> pad byte
    chunks += b"fmt " + _s.pack("<I", len(fmt)) + fmt
    chunks += b"data" + _s.pack("<I", len(data)) + data
    return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_real_decode_pcm_wav():
    """decode_audio_array is REAL for PCM WAV: exact sample values back out
    (16-bit signed and 8-bit unsigned), channels deinterleaved, extra RIFF
    chunks skipped; frame_rms computes per-window energy exactly."""
    import numpy as np

    from pilsner_spark.operators.multimodal import (
        audio_features,
        decode_audio,
        decode_audio_array,
        frame_rms,
    )

    left, right = [0, 16384, -16384, 32767], [0, 0, 0, 0]
    samples, rate = decode_audio_array(_wav([left, right], sample_rate=4))
    assert rate == 4 and samples.shape == (4, 2)
    assert samples[:, 0].tolist() == [v / 32768.0 for v in left]
    assert samples[:, 1].tolist() == [0.0, 0.0, 0.0, 0.0]

    s8, _ = decode_audio_array(_wav([[128, 0, 255]], bits=8))
    assert s8[:, 0].tolist() == [0.0, -1.0, 127 / 128.0]

    # features: 16-dim, duration = n/rate; mono mix halves the left channel
    f = audio_features(samples, rate)
    assert len(f) == 16 and f[0] == 1.0  # 4 frames at 4 Hz
    assert f == decode_audio(_wav([left, right], sample_rate=4), fake=False)

    # frame_rms: 1-frame-per-sample windows give |sample| back
    mono = np.array([[0.5], [-0.5], [0.0], [1.0]])
    assert frame_rms(mono, sample_rate=1000, every_ms=1) == [0.5, 0.5, 0.0, 1.0]

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3bytes", fake=False)
    fallback = decode_audio(b"ID3\x04mp3bytes", fake=True)
    assert len(fallback) == 16


def test_truncated_wav_raises_in_strict_mode():
    """A data chunk whose declared size runs past the payload is corruption:
    strict mode must raise (ADVICE r3 — not silently decode fewer frames),
    fake mode falls back to the deterministic stand-in."""
    from pilsner_spark.operators.multimodal import decode_audio, decode_audio_array

    whole = _wav([[0, 16384, -16384, 32767]], extra_chunk=False)
    truncated = whole[:-4]  # declared data size now exceeds the buffer
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        decode_audio_array(truncated)
    with pytest.raises(ValueError):
        decode_audio(truncated, fake=False)
    assert len(decode_audio(truncated, fake=True)) == 16


def _avi(frames, fps=10, compressed=False):
    """Minimal RIFF/AVI payload with uncompressed 24-bit DIB frames.
    ``frames``: list of (H, W, 3) uint8 RGB top-down arrays (encoded
    bottom-up BGR with 4-byte-aligned stride, as DIB requires);
    ``compressed`` swaps frame ids to '00dc' (the codec path)."""
    import struct as _s

    import numpy as np

    h, w = frames[0].shape[:2]
    stride = (w * 3 + 3) // 4 * 4

    def chunk(cid, body):
        return cid + _s.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(tp, body):
        return chunk(b"LIST", tp + body)

    avih = _s.pack("<10I", int(1e6 // fps), 0, 0, 0, len(frames), 0, 1, 0, w, h)
    strh = b"vids" + (b"MJPG" if compressed else b"DIB ") + b"\x00" * 48
    strf = _s.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 1 if compressed else 0, stride * h, 0, 0, 0, 0
    )

    def dib(f):
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
        return rows.tobytes()

    fid = b"00dc" if compressed else b"00db"
    body = (
        lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
        + chunk(b"JUNK", b"\x00" * 8)  # alignment chunk real muxers emit
        + lst(b"movi", b"".join(chunk(fid, dib(f)) for f in frames))
    )
    return b"RIFF" + _s.pack("<I", 4 + len(body)) + b"AVI " + body


def test_real_decode_avi():
    """decode_video_array is REAL for uncompressed-DIB AVI: exact pixels
    back out of every frame (bottom-up BGR + stride padding handled, JUNK
    chunks skipped), fps from avih; sample_frames follows the
    frame_sample_plan timestamp grid; compressed frame ids raise; a
    truncated movi list raises in strict mode."""
    import numpy as np

    from pilsner_spark.operators.multimodal import (
        decode_video,
        decode_video_array,
        sample_frames,
        video_features,
    )

    # 3 frames, 3x2: odd width forces a nonzero stride pad (9 -> 12 bytes/row)
    rng = [
        np.full((2, 3, 3), v, np.uint8) + np.arange(18, dtype=np.uint8).reshape(2, 3, 3)
        for v in (0, 100, 200)
    ]
    payload = _avi(rng, fps=2)
    frames, fps = decode_video_array(payload)
    assert fps == 2.0 and frames.shape == (3, 2, 3, 3)
    assert [f.tolist() for f in frames] == [f.tolist() for f in rng]

    # features: 16-dim, duration = 3 frames / 2 fps
    f = video_features(frames, fps)
    assert len(f) == 16 and f[0] == 1.5
    assert f == decode_video(payload, fake=False)

    # frame sampling: t=0ms, 1000ms at 2 fps -> frames 0 and 2
    sampled = sample_frames(frames, fps, every_ms=1000)
    assert sampled.shape[0] == 2
    assert sampled[0].tolist() == rng[0].tolist() and sampled[1].tolist() == rng[2].tolist()

    with pytest.raises(NotImplementedError, match="compressed AVI frame"):
        decode_video_array(_avi(rng, compressed=True))
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        decode_video_array(payload[:-7])
    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x01\xbamoov", fake=False)  # not a RIFF container
    assert len(decode_video(b"\x00\x00\x01\xbamoov", fake=True)) == 16


def test_video_routing_in_features_df(spark):
    """A real AVI payload routes to the video decoder inside the Arrow
    extract path, next to audio and image rows in the same batch."""
    import numpy as np
    from pyspark.sql import types as T

    from pilsner_spark.operators.multimodal import (
        audio_features,
        decode_audio_array,
        decode_video_array,
        video_features,
    )

    avi = _avi([np.full((2, 2, 3), 9, np.uint8)], fps=5)
    wav = _wav([[0, 16384]], sample_rate=4)
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
        ]
    )
    media = spark.createDataFrame(
        [(0, bytearray(avi), "video"), (1, bytearray(wav), "audio")], schema
    )
    got = {r.media_id: r.features for r in extract_features_df(media, fake=False).collect()}
    assert got[0] == video_features(*decode_video_array(avi))
    assert got[1] == audio_features(*decode_audio_array(wav))


def test_audio_routing_in_features_df(spark):
    """An audio payload routes to the WAV decoder inside the Arrow extract
    path while image rows in the same batch use the image decoder."""
    from pyspark.sql import types as T

    from pilsner_spark.operators.multimodal import audio_features, decode_audio_array, decode_image_array, pixel_features

    wav = _wav([[0, 16384, -16384, 32767]], sample_rate=4)
    ppm = _ppm(2, 2, [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]])
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
        ]
    )
    media = spark.createDataFrame([(0, bytearray(wav), "audio"), (1, bytearray(ppm), "image")], schema)
    got = {r.media_id: r.features for r in extract_features_df(media, fake=False).collect()}
    assert got[0] == audio_features(*decode_audio_array(wav))
    assert got[1] == pixel_features(decode_image_array(ppm))


def test_real_decode_in_features_df(spark):
    """A real PPM payload flows through the Arrow extract path with true
    pixel features; non-image payloads in the same batch fall back."""
    from pyspark.sql import types as T

    from pilsner_spark.operators.multimodal import pixel_features, decode_image_array

    ppm = _ppm(2, 2, [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]])
    rows = [(0, bytearray(ppm), "image", 2, 2, 0), (1, bytearray(b"not an image"), "image", 0, 0, 0)]
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("duration_ms", T.IntegerType()),
        ]
    )
    media = spark.createDataFrame(rows, schema)
    got = {r.media_id: r.features for r in extract_features_df(media, fake=True).collect()}
    assert got[0] == pixel_features(decode_image_array(ppm))
    assert got[1] != got[0] and len(got[1]) == 16  # stand-in path for the non-image


def test_multimodal_features_df(spark):
    media = synthetic_media(spark, n=60)
    feats = extract_features_df(media)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r.features) == 16 and r.n_bytes == 32 for r in rows)
    # deterministic across runs
    again = {r.media_id: r.features for r in extract_features_df(synthetic_media(spark, n=60)).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_multimodal_frame_plan_and_partitioning(spark):
    media = synthetic_media(spark, n=30)
    plan = frame_sample_plan(media, every_ms=1000)
    got = plan.groupBy("media_id").count().collect()
    durations = {r.media_id: r.duration_ms for r in media.filter("media_type = 'video'").collect()}
    assert {r.media_id for r in got} == set(durations)
    for r in got:
        assert r["count"] == max(1, durations[r.media_id] // 1000)
    assert repartition_by_bytes(media, target_bytes_per_partition=100).rdd.getNumPartitions() >= 9


def test_streaming_exact_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates within a batch AND across
    restarted runs (state persisted via checkpoint) are dropped; the kept
    row is the (conv_id, turn_idx)-minimum."""
    from pilsner_spark.streaming.mentions_stream import streaming_exact_dedup

    src = str(tmp_path / "dd_in")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def turn(conv, idx, text):
        return (conv, idx, "user", text, "none", None)

    spark.createDataFrame(
        [
            turn("a", 0, "same text"),
            turn("b", 3, "same text"),  # in-batch dup, higher key
            turn("c", 0, "unique one"),
        ],
        schema,
    ).write.mode("overwrite").parquet(src)

    sink = str(tmp_path / "dd_out")

    def run():
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.conv_id, r.turn_idx) for r in spark.read.parquet(sink).collect()}

    got1 = run()
    assert got1 == {("a", 0), ("c", 0)}  # min-key row kept per text

    # restart with new data: cross-batch duplicate dropped via state store
    spark.createDataFrame(
        [turn("d", 0, "same text"), turn("e", 0, "brand new")], schema
    ).write.mode("append").parquet(src)
    got2 = run()
    assert got2 == {("a", 0), ("c", 0), ("e", 0)}  # d's dup never emitted


def test_incremental_cluster_assignments(spark, model, tmp_path):
    """foreachBatch incremental clustering: turns sharing an entity —
    directly or transitively across micro-batches — land in one cluster,
    and the observation table accumulates across restarts."""
    from pilsner_spark.streaming.mentions_stream import incremental_cluster_assignments

    src = str(tmp_path / "inc_in")
    work = str(tmp_path / "inc_work")
    ckpt = str(tmp_path / "inc_ckpt")
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    def turn(conv, idx, text):
        return (conv, idx, "user", text, "none", None)

    # batch 1: two turns both mentioning entity1's surface
    spark.createDataFrame(
        [
            turn("a", 0, "awesome white refrigerator here"),
            turn("b", 0, "awwsome white refrigerator too"),
        ],
        schema,
    ).write.mode("overwrite").parquet(src)
    q = incremental_cluster_assignments(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), model, work, ckpt
    )
    q.awaitTermination(120)

    # batch 2 (restart): a new turn with the same entity joins the cluster
    spark.createDataFrame([turn("c", 0, "awesome white refrigerator again")], schema).write.mode(
        "append"
    ).parquet(src)
    q2 = incremental_cluster_assignments(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), model, work, ckpt
    )
    q2.awaitTermination(120)

    clusters = {
        r["turn_key"]: r["cluster_id"]
        for r in spark.read.parquet(f"{work}/stream_entity_clusters").collect()
    }
    assert set(clusters) == {"a#0", "b#0", "c#0"}
    assert clusters["a#0"] == clusters["b#0"] == clusters["c#0"]
    # the row-count meta lands via temp file + rename: whole, no temp left
    import json
    import os

    with open(f"{work}/stream_cluster_meta.json") as f:
        assert json.load(f)["rows"] == spark.read.parquet(f"{work}/stream_cluster_nodes").count()
    assert not os.path.exists(f"{work}/stream_cluster_meta.json.tmp")


def test_incremental_clustering_merge_rewrites_only_touched_buckets(spark, model, tmp_path):
    """Cross-batch cluster MERGE — the partition-rewrite path: a bridging
    turn mentioning both entities relabels one existing cluster. The old
    labels' bucket partitions must be deleted + re-appended (no stale
    duplicate assignments anywhere), everything else untouched."""
    import json

    from pilsner_spark.streaming.mentions_stream import incremental_cluster_assignments

    src = str(tmp_path / "mrg_in")
    work = str(tmp_path / "mrg_work")
    ckpt = str(tmp_path / "mrg_ckpt")
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    spark.createDataFrame(
        [
            ("a", 0, "user", "awesome white refrigerator here", "none", None),
            ("x", 0, "user", "sometimes it happens", "none", None),
        ],
        schema,
    ).write.mode("overwrite").parquet(src)
    q = incremental_cluster_assignments(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), model, work, ckpt
    )
    q.awaitTermination(120)
    before = {
        r.turn_key: r.cluster_id
        for r in spark.read.parquet(f"{work}/stream_entity_clusters").collect()
    }
    assert before["a#0"] != before["x#0"]  # two clusters before the bridge

    spark.createDataFrame(
        [("b", 0, "user", "awesome white refrigerator and sometimes it happens", "none", None)],
        schema,
    ).write.mode("append").parquet(src)
    q2 = incremental_cluster_assignments(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), model, work, ckpt
    )
    q2.awaitTermination(120)

    nodes = spark.read.parquet(f"{work}/stream_cluster_nodes").collect()
    # no stale duplicates: every node assigned exactly once after the rewrite
    keys = [r.node_key for r in nodes]
    assert len(keys) == len(set(keys))
    clusters = {
        r.turn_key: r.cluster_id
        for r in spark.read.parquet(f"{work}/stream_entity_clusters").collect()
    }
    assert set(clusters) == {"a#0", "x#0", "b#0"}
    assert len(set(clusters.values())) == 1  # merged into ONE cluster
    metrics = [json.loads(line) for line in open(f"{work}/stream_cluster_metrics.jsonl")]
    assert metrics[-1]["buckets_rewritten"] >= 1  # the relabeled cluster's partition


def test_incremental_clustering_is_incremental(spark, model, tmp_path):
    """Delta-CC evidence (VERDICT r2 item 5 + r3 item 3): per-batch CC
    input AND per-batch write I/O track the BATCH, not the accumulated
    history (the bucketed assignment table rewrites only remap-touched
    partitions; steady-state batches are pure appends), while output
    equals a full batch recompute over all observations (cross-batch
    transitivity included)."""
    import json

    from pilsner_spark.operators.clustering import connected_components
    from pilsner_spark.streaming.mentions_stream import incremental_cluster_assignments

    src = str(tmp_path / "inc5_in")
    work = str(tmp_path / "inc5_work")
    ckpt = str(tmp_path / "inc5_ckpt")
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    # every batch: 3 turns on the shared entity1 surface (merging into one
    # growing cluster) + 1 turn on entity2 — constant batch shape
    def batch_rows(i):
        return [
            (f"c{i}_{j}", 0, "user", "awesome white refrigerator here", "none", None)
            for j in range(3)
        ] + [(f"c{i}_x", 0, "user", "sometimes it happens", "none", None)]

    n_batches = 10
    for i in range(n_batches):
        spark.createDataFrame(batch_rows(i), schema).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        q = incremental_cluster_assignments(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src), model, work, ckpt
        )
        q.awaitTermination(120)

    metrics = [json.loads(line) for line in open(f"{work}/stream_cluster_metrics.jsonl")]
    assert len(metrics) >= n_batches
    # history grows every batch (prev_rows comes from the sidecar meta,
    # not a count job — it must still track the true accumulation) ...
    assert metrics[-1]["prev_rows"] > metrics[1]["prev_rows"]
    # batch 0 inserts 4 turn nodes + 2 entity nodes, every later batch 4
    # turn nodes — the meta-file count must track that exactly
    for i, m in enumerate(metrics[: n_batches]):
        assert m["prev_rows"] == (0 if i == 0 else 6 + 4 * (i - 1))
    # ... but the CC mini-graph does not (batch vertices + O(1) cluster reps)
    assert metrics[-1]["mini_vertices"] <= metrics[0]["mini_vertices"] + 2
    # write I/O stays flat as history grows 10x: after batch 0 the growing
    # cluster keeps its lexicographic-min label, so every later batch is a
    # pure append of the batch itself — zero partitions rewritten, and
    # rows/bytes written bounded by the batch, not the history
    later = metrics[2:]
    assert all(m["buckets_rewritten"] == 0 for m in later)
    assert all(m["rows_written"] <= metrics[1]["rows_written"] for m in later)
    assert max(m["bytes_written"] for m in later) <= 3 * max(
        metrics[1]["bytes_written"], 1
    )

    # output equivalence: delta-CC assignments == full CC over ALL observations
    obs = spark.read.parquet(f"{work}/stream_turn_entities")
    edges = obs.select(
        F.col("turn_key").alias("key_a"), F.explode("mention_entities").alias("entity")
    ).select("key_a", F.concat(F.lit("E#"), F.col("entity")).alias("key_b"))
    full = {
        r.turn_key: r.cluster_id
        for r in connected_components(edges).filter(~F.col("turn_key").startswith("E#")).collect()
    }
    inc = {
        r.turn_key: r.cluster_id
        for r in spark.read.parquet(f"{work}/stream_entity_clusters").collect()
    }
    assert inc == full
    # cross-batch transitivity: batch-0 and batch-4 entity1 turns share a cluster
    assert inc["c0_0#0"] == inc["c4_2#0"]
    assert inc["c0_x#0"] != inc["c0_0#0"]


def test_streaming_minhash_neardup_stateful(spark, tmp_path):
    """Stateful LSH near-dup pairs: (1) distinct pair set over one drained
    run equals the batch minhash_candidate_pairs output (unsaturated
    corpus); (2) a doc arriving in a later run pairs against a bucket
    member persisted in the state store; (3) saturation emits 'dropped'
    markers, never silent loss."""
    from pilsner_spark.operators.dedup import minhash_bands, minhash_candidate_pairs
    from pilsner_spark.streaming.mentions_stream import streaming_minhash_neardup_pairs

    schema = "doc_id string, text string"
    base = [
        ("d1", "the quick brown fox jumps over the lazy dog tonight"),
        ("d2", "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of d1
        ("d3", "completely different text about spark structured streaming state"),
    ]
    later = [("d4", "the quick brown fox jumps over the lazy dog tonight")]

    src = str(tmp_path / "nd_in")
    ckpt = str(tmp_path / "nd_ckpt")
    sink = str(tmp_path / "nd_out")
    spark.createDataFrame(base, schema).write.mode("overwrite").parquet(src)

    def run():
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            streaming_minhash_neardup_pairs(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink)

    out1 = run()
    got_pairs = {
        (r.id_a, r.id_b) for r in out1.filter("kind = 'pair'").select("id_a", "id_b").distinct().collect()
    }
    batch_df = spark.createDataFrame(base, schema)
    want_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(minhash_bands(batch_df)).collect()
    }
    assert got_pairs == want_pairs == {("d1", "d2")}
    assert out1.filter("kind = 'dropped'").count() == 0

    # cross-run: d4 (exact dup of d1/d2) pairs against BOTH earlier members
    # via state persisted in the checkpoint; earlier pairs are not re-emitted
    spark.createDataFrame(later, schema).write.mode("append").parquet(src)
    out2 = run()
    got2 = {
        (r.id_a, r.id_b) for r in out2.filter("kind = 'pair'").select("id_a", "id_b").distinct().collect()
    }
    assert got2 == {("d1", "d2"), ("d1", "d4"), ("d2", "d4")}
    n_d1d2 = out2.filter("kind = 'pair' and id_a = 'd1' and id_b = 'd2'").count()
    assert n_d1d2 == out1.filter("kind = 'pair' and id_a = 'd1' and id_b = 'd2'").count()

    # saturation: cap 2 -> the 3rd+ member of every bucket gets a dropped
    # marker and no pairs; first two members' pair survives (prefix semantics)
    sink_s = str(tmp_path / "nd_out_sat")
    ckpt_s = str(tmp_path / "nd_ckpt_sat")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_minhash_neardup_pairs(stream, max_bucket_size=2)
        .writeStream.format("parquet")
        .option("path", sink_s)
        .outputMode("append")
        .option("checkpointLocation", ckpt_s)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out_s = spark.read.parquet(sink_s)
    sat_pairs = {(r.id_a, r.id_b) for r in out_s.filter("kind = 'pair'").select("id_a", "id_b").distinct().collect()}
    assert sat_pairs == {("d1", "d2")}
    dropped = {r.id_a for r in out_s.filter("kind = 'dropped'").select("id_a").distinct().collect()}
    assert dropped == {"d4"}
    assert out_s.filter("kind = 'dropped' and id_b is not null").count() == 0


def test_streaming_minhash_neardup_saturated_old_buckets(spark, tmp_path):
    """SATURATED-corpus parity (VERDICT r4 item 7): the old-bucket cap must
    BIND across the state store — a bucket filled to max_bucket_size in an
    earlier run rejects every later arrival (dropped markers, zero new
    pairs), while the prefix members' pairs stay exactly C(cap, 2) per
    band. Also pins the documented batch/stream semantic difference on the
    same corpus: batch drops the saturated bucket WHOLESALE (0 pairs, row
    in oversized_band_report); streaming keeps the first cap members'
    pairs."""
    from pilsner_spark.operators.dedup import (
        minhash_bands,
        minhash_candidate_pairs,
        oversized_band_report,
    )
    from pilsner_spark.streaming.mentions_stream import streaming_minhash_neardup_pairs

    schema = "doc_id string, text string"
    txt = "identical near duplicate payload text for every member of this bucket family"
    first = [(f"a{i}", txt) for i in range(3)]  # fills every shared bucket to the cap
    later = [(f"b{i}", txt) for i in range(2)]  # must ALL be rejected by state

    src = str(tmp_path / "sat_in")
    ckpt = str(tmp_path / "sat_ckpt")
    sink = str(tmp_path / "sat_out")
    spark.createDataFrame(first, schema).write.mode("overwrite").parquet(src)

    def run():
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            streaming_minhash_neardup_pairs(stream, max_bucket_size=3)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink)

    out1 = run()
    pairs1 = {(r.id_a, r.id_b) for r in out1.filter("kind='pair'").select("id_a", "id_b").distinct().collect()}
    assert pairs1 == {("a0", "a1"), ("a0", "a2"), ("a1", "a2")}  # C(3,2) prefix pairs
    assert out1.filter("kind='dropped'").count() == 0
    # every band bucket holds exactly the 3 identical docs: per-band pair
    # count is exactly C(3,2) — the cap bound is tight, not approximate
    per_band = out1.filter("kind='pair'").groupBy("band_key").count().collect()
    assert per_band and all(r["count"] == 3 for r in per_band)

    # run 2: both later docs hit buckets ALREADY at cap in the state store
    spark.createDataFrame(later, schema).write.mode("append").parquet(src)
    out2 = run()
    new = out2.subtract(out1)
    assert new.filter("kind='pair'").count() == 0  # the old-bucket cap binds
    dropped = {r.id_a for r in new.filter("kind='dropped'").select("id_a").distinct().collect()}
    assert dropped == {"b0", "b1"}
    # dropped markers appear in EVERY band bucket the rejected doc hashed to
    n_bands = out1.filter("kind='pair'").select("band_key").distinct().count()
    assert new.filter("kind='dropped'").select("band_key").distinct().count() == n_bands

    # same corpus through batch: the saturated bucket drops WHOLESALE —
    # zero pairs — and the oversized report names every band bucket
    batch_df = spark.createDataFrame(first + later, schema)
    bands = minhash_bands(batch_df)
    assert minhash_candidate_pairs(bands, max_bucket_size=3).count() == 0
    assert oversized_band_report(bands, max_bucket_size=3).count() == n_bands


def test_streaming_hygiene_projections_match_batch(spark, tmp_path):
    """C4 line cleaning and PII redaction are pure projections, so they
    compose with Structured Streaming unchanged (append mode, no state):
    the streamed results are pinned row-for-row to the batch operators."""
    from pilsner_spark.operators.text_filters import c4_line_filter, redact_pii

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today.\nshort bit.\nanother good long sentence here!"),
            (2, "mail me at bob@example.com or 10.0.0.1 with ref 123456789"),
            (3, "lorem ipsum dolor sit amet sequence.\nperfectly good line of words here."),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "hyg_in")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    q1 = (
        c4_line_filter(stream, min_words_per_line=5, min_lines_kept=1)
        .writeStream.format("memory")
        .queryName("c4_stream")
        .trigger(availableNow=True)
        .start()
    )
    q2 = (
        redact_pii(stream)
        .writeStream.format("memory")
        .queryName("pii_stream")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    got_c4 = {
        r.doc_id: (r.n_lines_kept, r.doc_kept, r.cleaned_text)
        for r in spark.sql("select * from c4_stream").collect()
    }
    exp_c4 = {
        r.doc_id: (r.n_lines_kept, r.doc_kept, r.cleaned_text)
        for r in c4_line_filter(docs, min_words_per_line=5, min_lines_kept=1).collect()
    }
    assert got_c4 == exp_c4 and set(got_c4) == {1, 2, 3}
    assert got_c4[3][1] is False  # doc blocklist holds on the stream too

    got_pii = {r.doc_id: r.redacted for r in spark.sql("select * from pii_stream").collect()}
    exp_pii = {r.doc_id: r.redacted for r in redact_pii(docs).collect()}
    assert got_pii == exp_pii
    assert "<PII:email>" in got_pii[2] and "<PII:ipv4>" in got_pii[2]


def test_streaming_gopher_rules_match_batch(spark, tmp_path):
    """gopher_quality_rules is a pure projection too: streamed verdicts and
    signals are pinned row-for-row to the batch operator."""
    from pilsner_spark.operators.text_filters import gopher_quality_rules

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on mat"),
            (2, "cat"),
            (3, "- the cat sat\n- on a mat\nplain line here"),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "gopher_in")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    kwargs = dict(min_words=5, max_words=10, min_mean_word_len=2.0,
                  max_mean_word_len=6.0, min_alpha_word_frac=0.8,
                  min_stopword_hits=1, max_bullet_line_frac=0.5)
    q = (
        gopher_quality_rules(stream, **kwargs)
        .writeStream.format("memory")
        .queryName("gopher_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_words, r.gopher_keep, r.bullet_line_frac)
        for r in spark.sql("select * from gopher_stream").collect()
    }
    exp = {
        r.doc_id: (r.n_words, r.gopher_keep, r.bullet_line_frac)
        for r in gopher_quality_rules(docs, **kwargs).collect()
    }
    assert got == exp and set(got) == {1, 2, 3}
    assert got[1][1] is True and got[3][1] is False


def test_streaming_classifier_projection_matches_batch(spark, tmp_path):
    """The NB classifier's serving projection is stateless per row, so it
    composes with Structured Streaming unchanged (append mode): streamed
    scores pinned row-for-row to the batch operator — train on yesterday's
    corpus, score the live ingest stream."""
    from pilsner_spark.operators.text_filters import (
        nb_classifier_projection,
        nb_classifier_weights,
    )

    train = spark.createDataFrame(
        [
            (1, "good clean prose text", 1.0),
            (2, "good curated quality words", 1.0),
            (3, "spam spam junk junk", 0.0),
            (4, "junk garbage spam noise", 0.0),
        ],
        "doc_id long, text string, label double",
    )
    docs = spark.createDataFrame(
        [(10, "good quality prose"), (11, "spam junk garbage"), (12, "")],
        "doc_id long, text string",
    )
    micro, prior = nb_classifier_weights(train)
    src = str(tmp_path / "clf_in")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        nb_classifier_projection(stream, micro, prior)
        .writeStream.format("memory")
        .queryName("clf_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_grams, r.logit, r.prob, r.keep)
        for r in spark.sql("select * from clf_stream").collect()
    }
    exp = {
        r.doc_id: (r.n_grams, r.logit, r.prob, r.keep)
        for r in nb_classifier_projection(docs, micro, prior).collect()
    }
    assert got == exp
