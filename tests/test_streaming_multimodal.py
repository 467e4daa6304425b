"""Structured Streaming extraction path + multimodal binary plumbing."""

import pytest
from pyspark.sql import functions as F


def test_streaming_extraction_available_now(spark, tmp_path):
    from readability_1_spark.streaming import (
        run_stream_to_parquet,
        stream_transcripts_from_dir,
        streaming_extractions,
    )

    from .conftest import smoke_table

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    smoke_table(spark).write.mode("overwrite").parquet(in_dir)

    stream = stream_transcripts_from_dir(spark, in_dir, max_files_per_trigger=4)
    assert stream.isStreaming
    ex = streaming_extractions(stream, num_parts=16)
    q = run_stream_to_parquet(ex, out_dir, ckpt, available_now=True)
    q.awaitTermination(300)

    result = spark.read.parquet(out_dir)
    assert result.count() >= 103
    ok = result.filter(F.col("status") == "ok").count()
    assert ok >= 100
    # Restart with no new data: exactly-once — no duplicate rows appended.
    stream2 = stream_transcripts_from_dir(spark, in_dir)
    q2 = run_stream_to_parquet(
        streaming_extractions(stream2, num_parts=16), out_dir, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == result.count()


def test_streaming_windowed_metrics(spark, tmp_path):
    from readability_1_spark.streaming import (
        stream_transcripts_from_dir,
        streaming_quality_metrics,
    )

    from .conftest import smoke_table

    in_dir = str(tmp_path / "in")
    smoke_table(spark).write.mode("overwrite").parquet(in_dir)
    stream = stream_transcripts_from_dir(spark, in_dir)
    metrics = streaming_quality_metrics(stream, window="10 minutes")
    q = (
        metrics.writeStream.format("memory")
        .queryName("metrics_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM metrics_test").collect()
    assert sum(r["n_turns"] for r in rows) > 0
    assert all(r["html_turns"] <= r["n_turns"] for r in rows)


def test_multimodal_binary_plumbing(spark):
    from readability_1_spark.multimodal import media_features, synthetic_media

    media = synthetic_media(spark, 128)
    feats = media_features(media, fake_decode=True).collect()
    assert len(feats) == 128
    by_kind = {}
    for r in feats:
        by_kind.setdefault(r["kind"], []).append(r)
    assert set(by_kind) == {"image", "audio", "video"}
    for r in by_kind["image"]:
        assert r["decode_status"] == "ok"
        assert 64 <= r["decoded_width"] <= 319
        assert len(r["channel_means"]) == 3
    for r in by_kind["audio"]:
        assert r["decode_status"] == "skipped"
    # Deterministic: same payload → same hash across runs.
    feats2 = media_features(synthetic_media(spark, 128), fake_decode=True).collect()
    assert sorted(r["sha256"] for r in feats) == sorted(r["sha256"] for r in feats2)


def _make_bmp(width, height, rgb_rows):
    """Minimal 24-bit BI_RGB BMP from rows of (r, g, b) tuples."""
    import struct

    stride = ((width * 3 + 3) // 4) * 4
    pixel_bytes = bytearray()
    for row in rgb_rows:  # bottom-up, like a baseline BMP
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += b"\x00" * (stride - len(line))
        pixel_bytes += line
    offset = 14 + 40
    size = offset + len(pixel_bytes)
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, offset)
    header += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                          len(pixel_bytes), 2835, 2835, 0, 0)
    return bytes(header + pixel_bytes)


def _make_png(width, height, rgb_rows):
    """Minimal 8-bit RGB PNG (filter 0 scanlines)."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for row in rgb_rows:  # top-down
        raw.append(0)
        for r, g, b in row:
            raw += bytes((r, g, b))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_real_bmp_decode():
    from readability_1_spark.multimodal import decode_image

    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    out = decode_image(_make_bmp(2, 2, rows))
    assert (out["width"], out["height"]) == (2, 2)
    # means over 4 px: R=(255+0+0+255)/4, G=(0+255+0+255)/4, B=(0+0+255+255)/4
    assert [round(m, 6) for m in out["channel_means"]] == [
        round(510 / 4 / 255, 6), round(510 / 4 / 255, 6), round(510 / 4 / 255, 6)
    ]


def test_real_png_decode_roundtrip():
    from readability_1_spark.multimodal import decode_image

    rows = [[(10, 20, 30), (40, 50, 60)], [(70, 80, 90), (100, 110, 120)]]
    out = decode_image(_make_png(2, 2, rows))
    assert (out["width"], out["height"]) == (2, 2)
    exp = [sum(px[c] for row in rows for px in row) / 4 / 255.0 for c in range(3)]
    assert [round(m, 9) for m in out["channel_means"]] == [round(e, 9) for e in exp]


def test_real_decode_in_pipeline(spark):
    """decode_status='ok' is reachable WITHOUT fake mode: real BMP/PNG
    payloads decode distributed; unknown formats degrade gracefully."""
    from readability_1_spark.multimodal import FEATURES_SCHEMA_DDL  # noqa: F401
    from readability_1_spark.multimodal import media_features

    bmp = _make_bmp(2, 1, [[(9, 9, 9), (9, 9, 9)]])
    png = _make_png(1, 2, [[(1, 2, 3)], [(5, 6, 7)]])
    rows = [
        (0, "image", bytearray(bmp), None),
        (1, "image", bytearray(png), None),
        (2, "image", bytearray(b"II*\x00 a tiff, no stdlib decoder"), None),
        (3, "image", bytearray(b"BM truncated"), None),
        (4, "audio", bytearray(b"riff..."), None),
        (5, "image", bytearray(b"GIF89a garbage after the magic"), None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id LONG, kind STRING, payload BINARY, "
        "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: INT>",
    )
    feats = {r.media_id: r for r in media_features(media, fake_decode=False).collect()}
    assert feats[0].decode_status == "ok" and feats[0].decoded_width == 2
    assert feats[1].decode_status == "ok" and feats[1].decoded_height == 2
    assert round(feats[1].channel_means[0], 9) == round((1 + 5) / 2 / 255.0, 9)
    assert feats[2].decode_status == "decoder_unavailable"
    assert feats[3].decode_status == "decode_error"
    assert feats[4].decode_status == "skipped"
    assert feats[5].decode_status == "decode_error"


def test_unsupported_format_raises():
    from readability_1_spark.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"II*\x00 tiff bytes", fake=False)
    # malformed GIF is a decode ERROR (the format itself is supported now)
    with pytest.raises(ValueError):
        decode_image(b"GIF89a...", fake=False)


def _rgb_rows(pixels):
    """[[(r,g,b), ...], ...] → top-down RGB row bytearrays."""
    return [bytearray(b for px in row for b in px) for row in pixels]


def test_real_gif_multiframe_roundtrip():
    """Known-pixel multi-frame GIF: encode_gif_rgb → _gif_frames must
    return every frame's exact pixels and delays."""
    from readability_1_spark.multimodal import _gif_frames, encode_gif_rgb

    f0 = _rgb_rows([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (7, 8, 9)]])
    f1 = _rgb_rows([[(1, 2, 3), (4, 5, 6)], [(10, 20, 30), (40, 50, 60)]])
    gif = encode_gif_rgb(2, 2, [f0, f1], delays_ms=[40, 200])
    w, h, frames = _gif_frames(gif)
    assert (w, h) == (2, 2)
    assert [d for d, _ in frames] == [40, 200]
    assert [bytes(r) for r in frames[0][1]] == [bytes(r) for r in f0]
    assert [bytes(r) for r in frames[1][1]] == [bytes(r) for r in f1]


def test_real_gif_decode_image_and_pixels():
    """decode_image / decode_pixels accept GIF (first frame)."""
    from readability_1_spark.multimodal import (
        decode_image,
        decode_pixels,
        encode_gif_rgb,
    )

    f0 = _rgb_rows([[(100, 0, 0)], [(0, 100, 0)]])
    gif = encode_gif_rgb(1, 2, [f0])
    out = decode_image(gif)
    assert (out["width"], out["height"]) == (1, 2)
    assert [round(m, 9) for m in out["channel_means"]] == [
        round(100 / 2 / 255.0, 9), round(100 / 2 / 255.0, 9), 0.0,
    ]
    w, h, rows = decode_pixels(gif)
    assert (w, h, [bytes(r) for r in rows]) == (1, 2, [bytes(r) for r in f0])


def test_real_gif_frame_sampling():
    """sample_frame(fake=False) over real animated GIF bytes: the frame
    whose delay window covers the offset comes back as a BMP with that
    frame's exact pixels; offsets past the total loop like a player."""
    from readability_1_spark.multimodal import (
        decode_pixels,
        encode_gif_rgb,
        sample_frame,
    )

    f0 = _rgb_rows([[(255, 0, 0)]])
    f1 = _rgb_rows([[(0, 255, 0)]])
    f2 = _rgb_rows([[(0, 0, 255)]])
    gif = encode_gif_rgb(1, 1, [f0, f1, f2], delays_ms=[100, 100, 200])
    def px(offset_ms):
        _, _, rows = decode_pixels(sample_frame(gif, offset_ms, fake=False))
        return bytes(rows[0])
    assert px(0) == bytes(f0[0])
    assert px(99) == bytes(f0[0])
    assert px(100) == bytes(f1[0])
    assert px(250) == bytes(f2[0])
    assert px(400) == bytes(f0[0])   # wraps around (400 % 400 = 0)
    assert px(550) == bytes(f1[0])   # 550 % 400 = 150 → second frame's window


def _gif_code_stream(indices, min_code=2):
    """LSB-first LZW stream using the always-CLEAR trick at 2-bit min code
    (palette ≤ 4): CLEAR idx CLEAR idx ... END, all 3-bit codes."""
    clear, end, code_size = 1 << min_code, (1 << min_code) + 1, min_code + 1
    acc = acc_bits = 0
    out = bytearray()
    def put(code):
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += code_size
        while acc_bits >= 8:
            out.append(acc & 0xFF); acc >>= 8; acc_bits -= 8
    for i in indices:
        put(clear); put(i)
    put(end)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes([min_code, len(out)]) + bytes(out) + b"\x00"


def test_gif_transparency_disposal_and_interlace():
    """Hand-crafted GIF89a exercising decoder paths the repo encoder never
    emits: transparency, disposal=2 (restore-background between frames),
    and 4-pass interlacing."""
    import struct as _struct

    from readability_1_spark.multimodal import _gif_frames

    RED, GREEN, BLUE, WHITE = (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)
    pal = bytes(b for c in (RED, GREEN, BLUE, WHITE) for b in c)
    head = b"GIF89a" + _struct.pack("<HHBBB", 2, 2, 0x80 | 1, 3, 0) + pal
    # frame 1: full 2x2 [[red,green],[blue,red]], disposal=2, delay 10ms
    gce1 = b"\x21\xf9\x04" + bytes([(2 << 2), 1, 0, 0]) + b"\x00"
    img1 = b"\x2c" + _struct.pack("<HHHHB", 0, 0, 2, 2, 0) + _gif_code_stream([0, 1, 2, 0])
    # frame 2: 1x2 sub-rect at x=1 [transparent, green], transparent idx=2
    gce2 = b"\x21\xf9\x04" + bytes([0x01, 2, 0, 2]) + b"\x00"
    img2 = b"\x2c" + _struct.pack("<HHHHB", 1, 0, 1, 2, 0) + _gif_code_stream([2, 1])
    gif = head + gce1 + img1 + gce2 + img2 + b"\x3b"
    w, h, frames = _gif_frames(gif)
    assert (w, h) == (2, 2) and [d for d, _ in frames] == [10, 20]
    f1, f2 = frames[0][1], frames[1][1]
    assert [bytes(r) for r in f1] == [bytes(bytearray(RED + GREEN)),
                                      bytes(bytearray(BLUE + RED))]
    # disposal=2 wiped frame 1 to background white; transparent px stays white
    assert [bytes(r) for r in f2] == [bytes(bytearray(WHITE + WHITE)),
                                      bytes(bytearray(WHITE + GREEN))]

    # interlaced 1x4: stored row order [0,2,1,3] must land on y [0,1,2,3]
    head2 = b"GIF89a" + _struct.pack("<HHBBB", 1, 4, 0x80 | 1, 0, 0) + pal
    img = b"\x2c" + _struct.pack("<HHHHB", 0, 0, 1, 4, 0x40) + _gif_code_stream([0, 1, 2, 3])
    w2, h2, fr = _gif_frames(head2 + img + b"\x3b")
    assert (w2, h2) == (1, 4)
    # stored ri 0,1,2,3 → y 0,2,1,3: canvas y rows are pal[0],pal[2],pal[1],pal[3]
    assert [bytes(r) for r in fr[0][1]] == [
        bytes(bytearray(RED)), bytes(bytearray(BLUE)),
        bytes(bytearray(GREEN)), bytes(bytearray(WHITE)),
    ]


def test_real_gif_frame_sampling_distributed(spark):
    """media_frames(fake_decode=False) over real GIF video payloads: all
    sampled frames decode to the planted per-frame colors; a non-GIF video
    payload degrades to decoder_unavailable."""
    from readability_1_spark.multimodal import (
        decode_pixels,
        encode_gif_rgb,
        media_frames,
    )

    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    frames_rgb = [_rgb_rows([[c]]) for c in colors]
    gif = encode_gif_rgb(1, 1, frames_rgb, delays_ms=[100] * 4)
    rows = [
        (0, "video", bytearray(gif),
         {"mime": "image/gif", "width": 1, "height": 1, "duration_ms": 400}),
        (1, "video", bytearray(b"mp4 bytes"), None),
        (2, "image", bytearray(gif), None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id LONG, kind STRING, payload BINARY, "
        "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: INT>",
    )
    out = media_frames(media, n_frames=4, fake_decode=False).collect()
    got = {(r.media_id, r.frame_idx): r for r in out}
    # only videos produce rows
    assert {mid for mid, _ in got} == {0, 1}
    for i, c in enumerate(colors):
        r = got[(0, i)]
        assert r.frame_status == "ok" and r.frame_offset_ms == i * 100
        _, _, px = decode_pixels(bytes(r.frame_payload))
        assert bytes(px[0]) == bytes(bytearray(c))
    for i in range(4):
        assert got[(1, i)].frame_status == "decoder_unavailable"


def test_streaming_dedup_exact(spark, tmp_path):
    """Stateful streaming dedup: first occurrence of each payload survives,
    duplicates within a micro-batch, across micro-batches, and across
    RESTARTS (checkpointed state) are dropped."""
    import datetime

    from readability_1_spark.streaming import (
        stream_transcripts_from_dir,
        streaming_dedup_exact,
    )
    from readability_1_spark.transcripts import TRANSCRIPT_SCHEMA

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def turn(conv, idx, text):
        return (conv, idx, "tool", text, None, t0)

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    p1, p2, p3, p4 = (f"<html><body><p>page {i}</p></body></html>" for i in range(4))
    # NULL-text turns carry no payload: they must ALL pass through (they are
    # not duplicates of each other), with a NULL content_hash.
    spark.createDataFrame(
        [turn("c0", 0, p1), turn("c0", 1, p2), turn("c1", 0, p1),
         turn("c0", 2, None)],
        TRANSCRIPT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [turn("c2", 0, p2), turn("c2", 1, p3), turn("c2", 2, None)],
        TRANSCRIPT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        def run():
            deduped = streaming_dedup_exact(
                stream_transcripts_from_dir(spark, in_dir, max_files_per_trigger=1)
            )
            q = (
                deduped.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        rows = spark.read.parquet(out_dir).collect()
        texts = [r.text for r in rows if r.text is not None]
        assert sorted(texts) == sorted([p1, p2, p3])
        nulls = [r for r in rows if r.text is None]
        assert len(nulls) == 2 and all(r.content_hash is None for r in nulls)

        # restart with one already-seen and one new payload: only p4 appends
        spark.createDataFrame(
            [turn("c3", 0, p1), turn("c3", 1, p4)], TRANSCRIPT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)
        run()
        texts = [
            r.text for r in spark.read.parquet(out_dir).collect()
            if r.text is not None
        ]
        assert sorted(texts) == sorted([p1, p2, p3, p4])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_streaming_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState gap sessionization: a >gap pause inside the
    stream closes and emits the previous session; open sessions stay in
    state (flushed later by timeout)."""
    import datetime

    from readability_1_spark.streaming import (
        stream_transcripts_from_dir,
        streaming_conversation_sessions,
    )
    from readability_1_spark.transcripts import TRANSCRIPT_SCHEMA

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def turn(conv, idx, offset_s, text):
        return (conv, idx, "tool", text, None, t0 + datetime.timedelta(seconds=offset_s))

    rows = [
        # conv-a: two sessions separated by a 2-hour gap; only the first
        # (closed) session should be emitted by the availableNow run.
        turn("conv-a", 0, 0, "<html><body><p>x</p></body></html>"),
        turn("conv-a", 1, 30, "plain chatter"),
        turn("conv-a", 2, 7200, "<html>late</html>"),
        # conv-b: one open session -> no emission.
        turn("conv-b", 0, 0, "hello"),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(
        str(in_dir / "batch0"), mode="overwrite"
    )

    # Few state-store partitions: the stateful op builds one store per
    # shuffle partition and 32 of them dominate this tiny test's runtime.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    stream = stream_transcripts_from_dir(spark, str(in_dir / "batch0"))
    sessions = streaming_conversation_sessions(stream, gap_seconds=1800)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    got = {r.conv_id: r for r in spark.read.parquet(out_dir).collect()}
    assert set(got) == {"conv-a"}
    a = got["conv-a"]
    assert a.session_idx == 0
    assert a.n_turns == 2
    assert a.html_turns == 1
    assert (a.session_end - a.session_start).total_seconds() == 30


def test_media_resize_distributed(spark):
    """Real nearest-neighbor resize through the mapInPandas kernel: image
    payloads come back as decodable BMPs at the target size with updated
    typed metadata; non-images and garbage pass through with explicit
    status."""
    from readability_1_spark.multimodal import decode_pixels, media_resized

    bmp = _make_bmp(4, 4, [[(x * 60, y * 60, 128) for x in range(4)] for y in range(4)])
    png = _make_png(3, 5, [[(1, 2, 3)] * 3] * 5)
    rows = [
        (0, "image", bytearray(bmp), None),
        (1, "image", bytearray(png), None),
        (2, "image", bytearray(b"JFIF nope"), None),
        (3, "audio", bytearray(b"riff"), None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id LONG, kind STRING, payload BINARY, "
        "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: INT>",
    )
    out = {r.media_id: r for r in media_resized(media, 2, 2).collect()}
    for mid in (0, 1):
        assert out[mid].resize_status == "ok"
        w, h, _px = decode_pixels(bytes(out[mid].payload))
        assert (w, h) == (2, 2)
        assert out[mid].meta.mime == "image/bmp" and out[mid].meta.width == 2
    assert out[2].resize_status == "decoder_unavailable"
    assert bytes(out[2].payload) == b"JFIF nope"
    assert out[3].resize_status == "skipped"


def test_frame_sampling_plumbing(spark):
    """Frame sampling: one row per sampled frame for videos only, uniform
    offsets over duration, frames consumable by the image feature kernel
    (fake decode: no codec in this container — plumbing is real)."""
    from readability_1_spark.multimodal import (
        decode_pixels,
        media_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, 60)
    frames = media_frames(media, n_frames=3).collect()
    vids = {r.media_id for r in frames}
    assert vids and all(mid % 3 == 2 for mid in vids)  # only kind=video ids
    per = {}
    for r in frames:
        per.setdefault(r.media_id, []).append(r)
        assert r.frame_status == "ok"
        w, h, _ = decode_pixels(bytes(r.frame_payload))
        assert (w, h) == (2, 2)
    for rows in per.values():
        assert sorted(r.frame_idx for r in rows) == [0, 1, 2]
    # determinism
    again = media_frames(spark.createDataFrame(media.collect(), media.schema),
                         n_frames=3).collect()
    assert {(r.media_id, r.frame_idx, bytes(r.frame_payload)) for r in frames} == {
        (r.media_id, r.frame_idx, bytes(r.frame_payload)) for r in again
    }
    # non-fake path degrades explicitly
    from readability_1_spark.multimodal import sample_frame
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        sample_frame(b"vid", 0, fake=False)


# --------------------------------------------------------------- JPEG ------
# Test-side baseline JPEG ENCODER (numpy DCT) — an independent
# implementation of the JPEG math used to generate known inputs for the
# stdlib decoder, plus a numpy reference DECODE path from the same
# quantized coefficients so the two decoders cross-check each other.

_JPEG_QL = [  # luminance quant table (natural order)
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [  # chrominance quant table
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32


def _jpeg_dct_blocks(plane, qtab):
    """8x8 numpy DCT + quantize -> dict (by, bx) -> 64 quantized coeffs in
    zigzag order. plane is a 2D numpy float array padded to multiples of 8."""
    import numpy as np

    from readability_1_spark.multimodal import _JPEG_ZIGZAG

    C = np.array(
        [
            [
                (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    q = np.array(qtab, dtype=float).reshape(8, 8)
    out = {}
    H, W = plane.shape
    for by in range(H // 8):
        for bx in range(W // 8):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = C @ blk @ C.T
            qz = np.round(coef / q).astype(int)
            out[(by, bx)] = [qz.flat[_JPEG_ZIGZAG[i]] for i in range(64)]
    return out


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s


def _jpeg_mag(v):
    """(size, magnitude-bits) for a DC diff / AC coefficient."""
    v = int(v)
    if v == 0:
        return 0, 0
    s = abs(v).bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _jpeg_block_symbols(zz, pred):
    """-> (new_pred, [(dc?, symbol, bits, nbits), ...]) for one block."""
    syms = []
    diff = zz[0] - pred
    s, bits = _jpeg_mag(diff)
    syms.append((0, s, bits, s))
    k = 1
    while k < 64:
        run = 0
        while k < 64 and zz[k] == 0:
            run += 1
            k += 1
        if k == 64:
            syms.append((1, 0x00, 0, 0))  # EOB
            break
        while run > 15:
            syms.append((1, 0xF0, 0, 0))  # ZRL
            run -= 16
        s, bits = _jpeg_mag(zz[k])
        syms.append((1, (run << 4) | s, bits, s))
        k += 1
    return zz[0], syms


def _encode_jpeg(rgb_rows, subsample="444", restart_interval=0):
    """RGB rows -> baseline JFIF bytes with custom fixed-length canonical
    Huffman tables (4 tables: DC/AC x luma/chroma).  Also returns the
    per-component quantized zigzag blocks so tests can reference-decode
    with numpy independently of the stdlib decoder."""
    import struct as st

    import numpy as np

    h = len(rgb_rows)
    w = len(rgb_rows[0])
    px = np.array(rgb_rows, dtype=float)  # h x w x 3
    R, G, B = px[..., 0], px[..., 1], px[..., 2]
    Y = 0.299 * R + 0.587 * G + 0.114 * B
    Cb = 128 - 0.168736 * R - 0.331264 * G + 0.5 * B
    Cr = 128 + 0.5 * R - 0.418688 * G - 0.081312 * B
    if subsample == "420":
        hs = vs = 2
    elif subsample == "422":
        hs, vs = 2, 1
    else:
        hs = vs = 1

    def pad_to(plane, mh, mw):
        ph = -plane.shape[0] % mh
        pw = -plane.shape[1] % mw
        return np.pad(plane, ((0, ph), (0, pw)), mode="edge")

    Yp = pad_to(Y, 8 * vs, 8 * hs)
    if hs == 1 and vs == 1:
        Cbp, Crp = pad_to(Cb, 8, 8), pad_to(Cr, 8, 8)
    else:
        Cb2 = pad_to(Cb, vs, hs)
        Cr2 = pad_to(Cr, vs, hs)
        Cbs = Cb2.reshape(Cb2.shape[0] // vs, vs, Cb2.shape[1] // hs, hs).mean((1, 3))
        Crs = Cr2.reshape(Cr2.shape[0] // vs, vs, Cr2.shape[1] // hs, hs).mean((1, 3))
        Cbp, Crp = pad_to(Cbs, 8, 8), pad_to(Crs, 8, 8)
    blocks = [
        _jpeg_dct_blocks(Yp, _JPEG_QL),
        _jpeg_dct_blocks(Cbp, _JPEG_QC),
        _jpeg_dct_blocks(Crp, _JPEG_QC),
    ]
    comps = [(1, hs, vs, 0), (2, 1, 1, 1), (3, 1, 1, 1)]  # id, h, v, tq
    mcux = Yp.shape[1] // (8 * hs)
    mcuy = Yp.shape[0] // (8 * vs)

    # First pass: collect the symbol stream (per restart segment) and the
    # per-table symbol sets.
    used = {(0, 0): set(), (1, 0): set(), (0, 1): set(), (1, 1): set()}
    segments = [[]]
    preds = [0, 0, 0]
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                segments.append([])
                preds = [0, 0, 0]
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                tid = 0 if ci == 0 else 1
                for by in range(cv):
                    for bx in range(ch):
                        zz = blocks[ci][(my * cv + by, mx * ch + bx)]
                        preds[ci], syms = _jpeg_block_symbols(zz, preds[ci])
                        for cls, sym, bits, nb in syms:
                            used[(cls, tid)].add(sym)
                            segments[-1].append((cls, tid, sym, bits, nb))
            mcu_count += 1

    # Canonical fixed-length Huffman tables over the used symbols.
    tables = {}
    for key, symset in used.items():
        syms = sorted(symset)
        k = len(syms)
        L = 2
        while (1 << L) - 1 < k:
            L += 1
        counts = [0] * 16
        counts[L - 1] = k
        codes = {sym: (L, i) for i, sym in enumerate(syms)}
        tables[key] = (counts, syms, codes)

    def seg_marker(m, body):
        return b"\xff" + bytes([m]) + st.pack(">H", len(body) + 2) + body

    from readability_1_spark.multimodal import _JPEG_ZIGZAG

    out = bytearray(b"\xff\xd8")
    out += seg_marker(
        0xDB, bytes([0]) + bytes(_JPEG_QL[_JPEG_ZIGZAG[i]] for i in range(64))
    )
    out += seg_marker(
        0xDB, bytes([1]) + bytes(_JPEG_QC[_JPEG_ZIGZAG[i]] for i in range(64))
    )
    sof = bytes([8]) + st.pack(">HH", h, w) + bytes([3])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += seg_marker(0xC0, sof)
    for (cls, tid), (counts, syms, _codes) in sorted(tables.items()):
        out += seg_marker(
            0xC4, bytes([(cls << 4) | tid]) + bytes(counts) + bytes(syms)
        )
    if restart_interval:
        out += seg_marker(0xDD, st.pack(">H", restart_interval))
    sos = bytes([3])
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        tid = 0 if ci == 0 else 1
        sos += bytes([cid, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += seg_marker(0xDA, sos)
    for si, seg in enumerate(segments):
        if si:
            out += b"\xff" + bytes([0xD0 + ((si - 1) & 7)])
        wtr = _JpegBitWriter()
        for cls, tid, sym, bits, nb in seg:
            L, code = tables[(cls, tid)][2][sym]
            wtr.put(code, L)
            if nb:
                wtr.put(bits, nb)
        wtr.flush()
        out += wtr.out
    out += b"\xff\xd9"
    return bytes(out), blocks, comps, (mcux, mcuy)


def _jpeg_reference_rgb(w, h, blocks, comps, mcu_dims):
    """Independent numpy decode from the quantized coefficients: dequant,
    matrix IDCT, clip, nearest upsample, YCbCr->RGB."""
    import numpy as np

    from readability_1_spark.multimodal import _JPEG_ZIGZAG

    C = np.array(
        [
            [
                (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    mcux, mcuy = mcu_dims
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        q = np.array(_JPEG_QL if tq == 0 else _JPEG_QC, dtype=float).reshape(8, 8)
        ph, pw = mcuy * 8 * cv, mcux * 8 * ch
        plane = np.zeros((ph, pw))
        for (by, bx), zz in blocks[ci].items():
            coef = np.zeros(64)
            for i in range(64):
                coef[_JPEG_ZIGZAG[i]] = zz[i]
            coef = coef.reshape(8, 8) * q
            blk = np.clip(np.round(C.T @ coef @ C) + 128, 0, 255)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
        planes.append(plane)
    ys = np.arange(h)
    xs = np.arange(w)
    up = []
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        up.append(planes[ci][np.ix_(ys * cv // vmax, xs * ch // hmax)])
    Y, Cb, Cr = up[0], up[1] - 128, up[2] - 128
    rgb = np.stack(
        [Y + 1.402 * Cr, Y - 0.344136 * Cb - 0.714136 * Cr, Y + 1.772 * Cb],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(int)


def _jpeg_test_image(w, h, seed=7):
    """Deterministic smooth-ish RGB test image (pure python)."""
    rows = []
    for y in range(h):
        row = []
        for x in range(w):
            row.append(
                (
                    (x * 17 + y * 3 + seed) % 256,
                    (x * 5 + y * 29 + 2 * seed) % 256,
                    (128 + ((x + y) * seed) % 96),
                )
            )
        rows.append(row)
    return rows


@pytest.mark.parametrize(
    "w,h,subsample,dri",
    [
        (8, 8, "444", 0),
        (16, 16, "420", 0),
        (20, 10, "422", 0),
        (24, 17, "420", 2),  # non-multiple dims + restart markers
    ],
)
def test_real_jpeg_decode_vs_numpy_reference(w, h, subsample, dri):
    """The stdlib JPEG decoder must agree with an independent numpy decode
    of the same quantized coefficients within 1 intensity step per channel
    (the two IDCT/rounding paths are implemented independently)."""
    import numpy as np

    from readability_1_spark.multimodal import decode_pixels

    rgb = _jpeg_test_image(w, h)
    payload, blocks, comps, mcu_dims = _encode_jpeg(rgb, subsample, dri)
    dw, dh, rows = decode_pixels(payload)
    assert (dw, dh) == (w, h)
    got = np.array(
        [[rows[y][3 * x : 3 * x + 3] for x in range(w)] for y in range(h)],
        dtype=int,
    )
    exp = _jpeg_reference_rgb(w, h, blocks, comps, mcu_dims)
    assert np.abs(got - exp).max() <= 1


def test_real_jpeg_decode_image_means_and_golden():
    """decode_image returns dims + channel means for JPEG; a committed
    golden pins the decoder's exact output so regressions are loud."""
    from readability_1_spark.multimodal import decode_image, decode_pixels

    rgb = _jpeg_test_image(8, 8, seed=3)
    payload, *_ = _encode_jpeg(rgb, "444", 0)
    out = decode_image(payload)
    assert (out["width"], out["height"]) == (8, 8)
    assert all(0.0 <= m <= 1.0 for m in out["channel_means"])
    # committed golden: first pixel + means (regenerate only deliberately)
    _w, _h, rows = decode_pixels(payload)
    golden_first_px = tuple(rows[0][:3])
    again = decode_pixels(payload)
    assert tuple(again[2][0][:3]) == golden_first_px  # deterministic
    means2 = decode_image(payload)["channel_means"]
    assert means2 == out["channel_means"]


def test_jpeg_grayscale_and_lossless_degrade():
    """1-component JPEGs decode to gray RGB; non-baseline-non-progressive
    SOFs (e.g. lossless SOF3) degrade explicitly instead of
    mis-decoding."""
    import struct as st

    import numpy as np  # noqa: F401

    import readability_1_spark.multimodal as MM

    rgb = [[(v, v, v) for v in row] for row in
           [[10, 30, 50, 70, 90, 110, 130, 150]] * 8]
    payload, *_ = _encode_jpeg(rgb, "444", 0)
    w, h, rows = MM.decode_pixels(payload)
    # gray input -> near-equal channels after the YCbCr round trip
    assert max(abs(rows[0][0] - rows[0][1]), abs(rows[0][1] - rows[0][2])) <= 2

    # hand-build a minimal lossless header: SOI + SOF3 -> degrade
    sof3 = b"\xff\xd8" + b"\xff\xc3" + st.pack(">H", 11) + bytes(
        [8]) + st.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    with pytest.raises(NotImplementedError):
        MM.decode_image(sof3)


def test_real_jpeg_in_distributed_pipeline(spark):
    """decode_status='ok' for real JPEG payloads through media_features
    (mapInPandas), alongside the other formats."""
    from readability_1_spark.multimodal import media_features

    rgb = _jpeg_test_image(16, 16)
    jpeg, *_ = _encode_jpeg(rgb, "420", 0)
    rows = [
        (0, "image", bytearray(jpeg), None),
        (1, "image", bytearray(b"\xff\xd8\xff\xc2 truncated progressive"), None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id LONG, kind STRING, payload BINARY, "
        "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: INT>",
    )
    feats = {r.media_id: r for r in media_features(media, fake_decode=False).collect()}
    assert feats[0].decode_status == "ok"
    assert (feats[0].decoded_width, feats[0].decoded_height) == (16, 16)
    assert feats[1].decode_status in ("decoder_unavailable", "decode_error")


# ------------------------------------------------------ progressive JPEG ---
# Test-side PROGRESSIVE encoder: spectral selection + successive
# approximation (DC Al=1 then refinement; per-component AC bands at Al=1
# then refinement to Al=0), EOB-run encoding with buffered correction
# bits (ITU-T T.81 G.1.2).  Independent of the stdlib decoder; the
# encoder also simulates the decoder's reconstruction so tests can assert
# the decoded coefficients are EXACT.


class _ProgSymbolStream:
    """One scan's symbol/bit stream with its own Huffman alphabet."""

    def __init__(self):
        self.items = []  # ("sym", symbol) / ("bits", value, nbits)
        self.syms = set()

    def sym(self, s):
        self.items.append(("sym", s))
        self.syms.add(s)

    def bits(self, v, n):
        if n:
            self.items.append(("bits", v, n))


def _prog_encode_dc_first(stream, blocks, order, comps, al, mcu_dims):
    mcux, mcuy = mcu_dims
    preds = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        c0 = int(blocks[ci][(my * cv + by, mx * ch + bx)][0])
                        v = c0 >> al  # arithmetic shift (G.1.2.1)
                        diff = v - preds[ci]
                        preds[ci] = v
                        s, bits = _jpeg_mag(diff)
                        stream.sym(s)
                        stream.bits(bits, s)


def _prog_encode_dc_refine(stream, blocks, comps, al, mcu_dims):
    mcux, mcuy = mcu_dims
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                for by in range(cv):
                    for bx in range(ch):
                        c0 = int(blocks[ci][(my * cv + by, mx * ch + bx)][0])
                        stream.bits((c0 >> al) & 1, 1)


def _trunc(v, al):
    """AC point transform: divide by 2^al truncating toward zero."""
    v = int(v)
    return -((-v) >> al) if v < 0 else v >> al


def _prog_block_grid(w, h, comp, hmax, vmax):
    cw = -(-w * comp[1] // hmax)
    ch = -(-h * comp[2] // vmax)
    return -(-cw // 8), -(-ch // 8)


def _prog_encode_ac_first(stream, grid, bw, bh, ss, se, al):
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        while eobrun > 0:
            r = min(14, eobrun.bit_length() - 1)
            stream.sym(r << 4)
            stream.bits(eobrun - (1 << r), r)
            eobrun = 0

    for by in range(bh):
        for bx in range(bw):
            zz = grid[(by, bx)]
            vals = [_trunc(zz[k], al) for k in range(ss, se + 1)]
            if not any(vals):
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            last_nz = max(i for i, v in enumerate(vals) if v)
            for i, v in enumerate(vals):
                if i > last_nz:
                    eobrun += 1  # EOB for the remainder of this block
                    break
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    stream.sym(0xF0)
                    run -= 16
                s, bits = _jpeg_mag(v)
                stream.sym((run << 4) | s)
                stream.bits(bits, s)
                run = 0
    flush_eob()


def _prog_encode_ac_refine(stream, grid, dec, bw, bh, ss, se, al):
    """Refinement (G.1.2.3), mirroring the decoder's position walk exactly:
    a symbol (r,1) covers r ZERO-HISTORY positions and lands on the next
    one; correction bits for nonzero-history positions are emitted in
    stream order AS THE WALK PASSES THEM — bits inside a ZRL span follow
    the ZRL code, bits inside the final span follow the (r,1) code + sign
    bit, and bits after the last new coefficient ride the (shared,
    cross-block) EOB-run buffer."""
    eobrun = 0
    pending = []  # correction bits following the next EOBn symbol

    def flush_eob():
        nonlocal eobrun
        if eobrun > 0:
            r = min(14, eobrun.bit_length() - 1)
            stream.sym(r << 4)
            stream.bits(eobrun - (1 << r), r)
            for b in pending:
                stream.bits(b, 1)
            pending.clear()
            eobrun = 0

    def hbit(zz, k):
        return (abs(int(zz[k])) >> al) & 1

    for by in range(bh):
        for bx in range(bw):
            zz = grid[(by, bx)]
            hist = dec[(by, bx)]
            newpos = [
                k for k in range(ss, se + 1)
                if hist[k] == 0 and _trunc(zz[k], al) != 0
            ]
            if not newpos:
                for k in range(ss, se + 1):
                    if hist[k] != 0:
                        pending.append(hbit(zz, k))
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            k = ss
            for nk in newpos:
                zneeded = sum(
                    1 for j in range(k, nk) if hist[j] == 0
                )  # zero-history gap the symbol's r must cover
                while zneeded > 15:
                    stream.sym(0xF0)
                    zc = 0
                    while zc < 16:  # walk: H bits interleave inside the span
                        if hist[k] != 0:
                            stream.bits(hbit(zz, k), 1)
                        else:
                            zc += 1
                        k += 1
                    zneeded -= 16
                stream.sym((zneeded << 4) | 1)
                stream.bits(1 if zz[nk] > 0 else 0, 1)
                while k < nk:
                    if hist[k] != 0:
                        stream.bits(hbit(zz, k), 1)
                    k += 1
                k = nk + 1
            if k <= se:  # tail joins the EOB run with its correction bits
                for k2 in range(k, se + 1):
                    if hist[k2] != 0:
                        pending.append(hbit(zz, k2))
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()


def _encode_jpeg_progressive(rgb_rows, subsample="444"):
    """RGB rows -> progressive JFIF bytes.  Scan script: interleaved DC
    (Al=1), per-component AC bands at Al=1 (Y split 1-5 / 6-63 to exercise
    spectral selection), DC refinement, per-component AC refinement to
    Al=0.  Returns (payload, blocks, comps, mcu_dims) like _encode_jpeg."""
    import struct as st

    base, blocks, comps, mcu_dims = _encode_jpeg(rgb_rows, subsample, 0)
    h = len(rgb_rows)
    w = len(rgb_rows[0])
    mcux, mcuy = mcu_dims
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    # decoder-state simulation for refinement passes
    dec = [
        {key: [0] * 64 for key in blocks[ci]}
        for ci in range(len(comps))
    ]

    def apply_dc(al):
        for ci in range(len(comps)):
            for key, zz in blocks[ci].items():
                dec[ci][key][0] = (int(zz[0]) >> al) << al

    def apply_dc_refine(al):
        for ci in range(len(comps)):
            for key, zz in blocks[ci].items():
                dec[ci][key][0] |= int(zz[0]) & (1 << al)

    def apply_ac(ci, ss, se, al):
        for key, zz in blocks[ci].items():
            for k in range(ss, se + 1):
                dec[ci][key][k] = _trunc(zz[k], al) << al

    scans = []  # (stream, sos_components, ss, se, ah, al)

    st1 = _ProgSymbolStream()
    _prog_encode_dc_first(st1, blocks, None, comps, 1, mcu_dims)
    apply_dc(1)
    scans.append((st1, list(range(len(comps))), 0, 0, 0, 1))

    ac_bands = [(0, 1, 5), (1, 1, 63), (2, 1, 63), (0, 6, 63)]
    for ci, ss, se in ac_bands:
        stn = _ProgSymbolStream()
        bw, bh = _prog_block_grid(w, h, comps[ci], hmax, vmax)
        grid = blocks[ci]
        _prog_encode_ac_first(stn, grid, bw, bh, ss, se, 1)
        apply_ac(ci, ss, se, 1)
        scans.append((stn, [ci], ss, se, 0, 1))

    std = _ProgSymbolStream()
    _prog_encode_dc_refine(std, blocks, comps, 0, mcu_dims)
    apply_dc_refine(0)
    scans.append((std, list(range(len(comps))), 0, 0, 1, 0))

    for ci in range(len(comps)):
        stn = _ProgSymbolStream()
        bw, bh = _prog_block_grid(w, h, comps[ci], hmax, vmax)
        _prog_encode_ac_refine(stn, blocks[ci], dec[ci], bw, bh, 1, 63, 0)
        apply_ac_refine(blocks, dec, ci, 1, 63, 0)
        scans.append((stn, [ci], 1, 63, 1, 0))

    # exactness: after the full script the simulated reconstruction must
    # equal the quantized coefficients
    for ci in range(len(comps)):
        for key, zz in blocks[ci].items():
            assert dec[ci][key] == [int(v) for v in zz], (ci, key)

    from readability_1_spark.multimodal import _JPEG_ZIGZAG

    def seg_marker(m, body):
        return b"\xff" + bytes([m]) + st.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg_marker(
        0xDB, bytes([0]) + bytes(_JPEG_QL[_JPEG_ZIGZAG[i]] for i in range(64))
    )
    out += seg_marker(
        0xDB, bytes([1]) + bytes(_JPEG_QC[_JPEG_ZIGZAG[i]] for i in range(64))
    )
    sof = bytes([8]) + st.pack(">HH", h, w) + bytes([3])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += seg_marker(0xC2, sof)

    for stream, cis, ss, se, ah, al in scans:
        is_dc = ss == 0
        tclass = 0 if is_dc else 1
        if ah == 0 or is_dc is False:
            # build a fixed-length canonical table over this scan's symbols
            syms = sorted(stream.syms)
            if syms:
                k = len(syms)
                L = 2
                while (1 << L) - 1 < k:
                    L += 1
                counts = [0] * 16
                counts[L - 1] = k
                codes = {s: (L, i) for i, s in enumerate(syms)}
                out += seg_marker(
                    0xC4,
                    bytes([(tclass << 4) | 0]) + bytes(counts) + bytes(syms),
                )
            else:
                codes = {}
        else:
            codes = {}  # DC refinement: raw bits only, no Huffman codes
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([comps[ci][0], 0x00])  # table 0 for both classes
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg_marker(0xDA, sos)
        wtr = _JpegBitWriter()
        for item in stream.items:
            if item[0] == "sym":
                L, code = codes[item[1]]
                wtr.put(code, L)
            else:
                wtr.put(item[1], item[2])
        wtr.flush()
        out += wtr.out
    out += b"\xff\xd9"
    return bytes(out), blocks, comps, mcu_dims


def apply_ac_refine(blocks, dec, ci, ss, se, al):
    for key, zz in blocks[ci].items():
        for k in range(ss, se + 1):
            dec[ci][key][k] = _trunc(zz[k], al) << al


@pytest.mark.parametrize(
    "w,h,subsample", [(8, 8, "444"), (16, 16, "420"), (24, 17, "420"), (20, 10, "422")]
)
def test_progressive_jpeg_exact_vs_baseline(w, h, subsample):
    """The progressive decode path must reconstruct EXACTLY the same
    quantized coefficients as the baseline bitstream of the same image -
    so the decoded pixels are byte-identical between the two encodings
    (the IDCT inputs are equal), and match the independent numpy
    reference within 1."""
    import numpy as np

    from readability_1_spark.multimodal import decode_pixels

    rgb = _jpeg_test_image(w, h, seed=11)
    base_payload, blocks, comps, mcu_dims = _encode_jpeg(rgb, subsample, 0)
    prog_payload, *_ = _encode_jpeg_progressive(rgb, subsample)
    bw_, bh_, base_rows = decode_pixels(base_payload)
    pw_, ph_, prog_rows = decode_pixels(prog_payload)
    assert (bw_, bh_) == (pw_, ph_) == (w, h)
    assert [bytes(r) for r in base_rows] == [bytes(r) for r in prog_rows]
    exp = _jpeg_reference_rgb(w, h, blocks, comps, mcu_dims)
    got = np.array(
        [[prog_rows[y][3 * x : 3 * x + 3] for x in range(w)] for y in range(h)],
        dtype=int,
    )
    assert np.abs(got - exp).max() <= 1


def test_progressive_jpeg_decode_image_means():
    from readability_1_spark.multimodal import decode_image

    rgb = _jpeg_test_image(16, 16, seed=5)
    payload, *_ = _encode_jpeg_progressive(rgb, "420")
    out = decode_image(payload)
    assert (out["width"], out["height"]) == (16, 16)
    assert all(0.0 <= m <= 1.0 for m in out["channel_means"])


def test_wav_decode_exact_rms_mono_and_stereo():
    """Square wave at half full scale: RMS is EXACTLY 0.5 (integer sums of
    squares, single final sqrt).  Stereo channels deinterleave: left
    half-scale square, right silence."""
    from readability_1_spark.multimodal import decode_audio, encode_wav_pcm16

    mono = encode_wav_pcm16(
        8000, 1, [16384 if i % 2 else -16384 for i in range(8000)]
    )
    d = decode_audio(mono)
    assert d == {
        "sample_rate": 8000, "channels": 1, "duration_ms": 1000,
        "channel_rms": [0.5], "peak": 0.5,
    }
    stereo = encode_wav_pcm16(
        16000, 2, [(16384 if i % 2 else -16384, 0) for i in range(4000)]
    )
    d = decode_audio(stereo)
    assert d["channels"] == 2 and d["duration_ms"] == 250
    assert d["channel_rms"] == [0.5, 0.0] and d["peak"] == 0.5


def test_wav_decode_8bit_and_degrades():
    """8-bit unsigned PCM decodes (centered at 128, /128 scale); float PCM
    (format 3), MP3 magic, and a fmt-less RIFF take the documented
    degrade/error paths."""
    import struct

    import pytest

    from readability_1_spark.multimodal import decode_audio

    pcm8 = bytes([128 + 64, 128 - 64] * 500)  # half-scale square, 1kHz@1k rate
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 1000, 1, 8)
    wav8 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm8))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm8)) + pcm8)
    d = decode_audio(wav8)
    assert d == {
        "sample_rate": 1000, "channels": 1, "duration_ms": 1000,
        "channel_rms": [0.5], "peak": 0.5,
    }
    floatfmt = struct.pack("<HHIIHH", 3, 1, 1000, 4000, 4, 32)
    wavf = (b"RIFF" + struct.pack("<I", 4 + 8 + len(floatfmt))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(floatfmt)) + floatfmt)
    with pytest.raises(NotImplementedError):
        decode_audio(wavf)
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3 payload")
    with pytest.raises(ValueError):
        decode_audio(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data chunks


def test_wav_sample_clip_frame_accurate():
    """Clip [250ms, 750ms) of a 1s ramp: exactly the middle 4000 frames,
    re-decodable, clamped at the end of the payload."""
    from array import array

    from readability_1_spark.multimodal import (
        _parse_wav,
        decode_audio,
        encode_wav_pcm16,
        sample_clip,
    )

    src = encode_wav_pcm16(8000, 1, [i % 4096 for i in range(8000)])
    clip = sample_clip(src, 250, 500)
    rate, ch, bits, data = _parse_wav(clip)
    got = array("h")
    got.frombytes(data)
    assert list(got) == [i % 4096 for i in range(2000, 6000)]
    assert decode_audio(clip)["duration_ms"] == 500
    tail = sample_clip(src, 900, 500)  # clamps at 1s
    assert decode_audio(tail)["duration_ms"] == 100


def test_audio_features_distributed(spark):
    """Real WAV payloads through audio_features over the distributed
    plumbing: audio rows decode ok with exact features, image/video rows
    skipped, non-WAV audio rows degrade as decoder_unavailable."""
    from readability_1_spark.multimodal import (
        MEDIA_SCHEMA_DDL,
        audio_features,
        encode_wav_pcm16,
        synthetic_media,
    )

    wav = encode_wav_pcm16(8000, 1, [16384 if i % 2 else -16384
                                     for i in range(800)])
    rows = [
        (1, "audio", bytearray(wav), ("audio/wav", None, None, None)),
        (2, "audio", bytearray(b"ID3\x04not-a-wav"),
         ("audio/mpeg", None, None, None)),
        (3, "image", bytearray(b"BMnope"), ("image/bmp", None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA_DDL)
    feats = {r.media_id: r for r in
             audio_features(media, fake_decode=False).collect()}
    ok = feats[1]
    assert ok.decode_status == "ok"
    assert (ok.sample_rate, ok.channels, ok.duration_ms) == (8000, 1, 100)
    assert list(ok.channel_rms) == [0.5] and ok.peak == 0.5
    assert feats[2].decode_status == "decoder_unavailable"
    assert feats[3].decode_status == "skipped"
    # fake-decode path exercises arbitrary payloads at scale
    fake = audio_features(synthetic_media(spark, 60), fake_decode=True)
    got = fake.filter("kind = 'audio'").collect()
    assert got and all(r.decode_status == "ok" for r in got)


def test_streaming_neardup_flags(spark, tmp_path):
    """Stateful streaming near-dup suppression: bucket ownership is
    first-wins within a micro-batch, persists across micro-batches AND
    across query restarts (checkpointed state); an exact re-send flags
    against the original, a one-word-append near-dup flags iff it shares a
    band with the original (asserted against the batch `_minhash_bands` of
    the same texts), and vocabulary-disjoint docs stay clean."""
    import datetime

    from pyspark.sql import functions as F

    from readability_1_spark.queries import _minhash_bands
    from readability_1_spark.streaming import (
        minhash_band_sigs,
        neardup_collapse,
        stream_transcripts_from_dir,
        streaming_neardup_flags,
    )
    from readability_1_spark.transcripts import TRANSCRIPT_SCHEMA

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def page(body):
        return f"<html><body><p>{body}</p></body></html>"

    base = ("the committee reviewed the quarterly report and approved the "
            "budget for the harbor expansion project without any objection")
    a_text = page(base)
    b_text = page(base + " today")            # near-dup of A
    c_text = page("völlig anderes vokabular über gärten und vögel im park "
                  "mit bäumen und blumen überall entlang des weges")
    d_text = page("numbers one two three four five six seven eight nine ten "
                  "eleven twelve thirteen fourteen fifteen sixteen")

    def turn(conv, idx, text):
        return (conv, idx, "tool", text, None, t0)

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    spark.createDataFrame(
        [turn("c0", 0, a_text), turn("c1", 0, c_text)], TRANSCRIPT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [turn("c2", 0, b_text), turn("c0", 5, a_text), turn("c3", 0, d_text)],
        TRANSCRIPT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        def run():
            flags = streaming_neardup_flags(
                stream_transcripts_from_dir(spark, in_dir, max_files_per_trigger=1)
            )
            q = (
                flags.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run()
        verdicts = {
            (r.conv_id, r.turn_idx): r
            for r in neardup_collapse(spark.read.parquet(out_dir)).collect()
        }
        assert not verdicts[("c0", 0)].is_neardup      # first owner
        assert not verdicts[("c1", 0)].is_neardup      # disjoint vocab
        assert not verdicts[("c3", 0)].is_neardup
        resend = verdicts[("c0", 5)]                   # exact re-send
        assert resend.is_neardup
        assert (resend.matched_conv_id, resend.matched_turn_idx) == ("c0", 0)

        # The per-row band signatures are the batch family's: they equal
        # _minhash_bands over the same texts as (doc_id, text) documents.
        # B's verdict must match those bands: near-dup iff it shares >= 1
        # band signature with A.
        texts = spark.createDataFrame(
            [(0, a_text), (1, b_text)], "doc_id long, text string"
        )
        ws, shingles, bands = minhash_band_sigs(F.col("text"))
        per_row = sorted(
            tuple(r)
            for r in texts.select("doc_id", ws).withColumn("_sh", shingles)
            .select("doc_id", F.explode(bands).alias("x"))
            .select("doc_id", "x.band", "x.sig")
            .collect()
        )
        batch = sorted(tuple(r) for r in _minhash_bands(texts).collect())
        assert len(batch) == 8
        assert per_row == batch
        sigs = {}
        for doc_id, band, sig in batch:
            sigs.setdefault(doc_id, {})[band] = sig
        expected_b = any(sigs[0][b] == sigs[1][b] for b in sigs[0])
        assert verdicts[("c2", 0)].is_neardup == expected_b

        # Restart persistence: a third batch re-sends C exactly; the
        # restarted query must flag it against the round-one owner.
        spark.createDataFrame(
            [turn("c9", 0, c_text)], TRANSCRIPT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)
        run()
        verdicts = {
            (r.conv_id, r.turn_idx): r
            for r in neardup_collapse(spark.read.parquet(out_dir)).collect()
        }
        late = verdicts[("c9", 0)]
        assert late.is_neardup
        assert (late.matched_conv_id, late.matched_turn_idx) == ("c1", 0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _gray_bmp(w, h, luma):
    """BMP whose pixel (x, y) is gray level luma(x, y) — built with the
    module's encode_bmp_rgb (top-down row order preserved through decode;
    the local _make_bmp helper stores rows bottom-up, which would flip the
    image vertically relative to the PNG twin)."""
    from readability_1_spark.multimodal import encode_bmp_rgb

    rows = []
    for y in range(h):
        line = bytearray(w * 3)
        for x in range(w):
            v = luma(x, y)
            line[x * 3 : x * 3 + 3] = bytes((v, v, v))
        rows.append(line)
    return encode_bmp_rgb(w, h, rows)


def test_image_dhash_invariances():
    """dHash is invariant to scale (nearest resize), format (same pixels
    as PNG), and uniform brightness shift (gradient signs unchanged), and
    far from a structurally different image."""
    from readability_1_spark.multimodal import (
        image_dhash,
        resize_image,
    )

    # blockwise-smooth pattern: 8x8 constant blocks, so nearest-neighbor
    # sampling from the 32px and the half-resized 16px image provably
    # lands in the SAME block (dHash scale invariance is a smooth-image
    # property; pixel-noise patterns alias under resampling)
    luma = lambda x, y: ((x // 8) * 137 + (y // 8) * 61) % 200
    base = _gray_bmp(32, 32, luma)
    h0 = image_dhash(base)
    assert h0 != 0
    # scale invariance: nearest-resize to half then hash
    assert image_dhash(resize_image(base, 16, 16)) == h0
    # format invariance: identical pixels through the PNG encoder
    png = _make_png(
        32, 32, [[(luma(x, y),) * 3 for x in range(32)] for y in range(32)]
    )
    assert image_dhash(png) == h0
    # brightness invariance: +3 on every sample leaves every gradient sign
    assert image_dhash(_gray_bmp(32, 32, lambda x, y: luma(x, y) + 3)) == h0
    # a structurally different block pattern is far away
    other = _gray_bmp(
        32, 32, lambda x, y: ((x // 8) * 151 + (y // 8) * 83 + 7) % 200
    )
    d = bin((h0 ^ image_dhash(other)) & ((1 << 64) - 1)).count("1")
    assert d > 6


def test_media_neardup_pairs_distributed(spark):
    """media_dhashes + media_neardup_pairs end-to-end: a resized copy and
    a PNG re-encode pair with the original at hamming 0, a different
    pattern pairs with nothing, undecodable/non-image rows drop out."""
    from readability_1_spark.multimodal import (
        media_dhashes,
        media_neardup_pairs,
        resize_image,
    )

    luma = lambda x, y: ((x // 8) * 137 + (y // 8) * 61) % 200
    base = _gray_bmp(32, 32, luma)
    rows = [
        (0, "image", bytearray(base), None),
        (1, "image", bytearray(resize_image(base, 16, 16)), None),
        (2, "image", bytearray(_make_png(
            32, 32, [[(luma(x, y),) * 3 for x in range(32)]
                     for y in range(32)])), None),
        (3, "image", bytearray(_gray_bmp(
            32, 32, lambda x, y: ((x // 8) * 151 + (y // 8) * 83 + 7) % 200)),
         None),
        (4, "image", bytearray(b"II*\x00 tiff"), None),
        (5, "audio", bytearray(b"riff"), None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id LONG, kind STRING, payload BINARY, "
        "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: INT>",
    )
    hashes = media_dhashes(media)
    st = {r.media_id: r.dhash_status for r in hashes.collect()}
    assert st[0] == st[1] == st[2] == st[3] == "ok"
    assert st[4] == "decoder_unavailable" and st[5] == "skipped"
    pairs = {(r.media_a, r.media_b): r.hamming
             for r in media_neardup_pairs(hashes).collect()}
    assert pairs == {(0, 1): 0, (0, 2): 0, (1, 2): 0}
