"""Multimodal plumbing tests: Arrow-batched decode over binary payloads,
failure quarantine, frame sampling, decoder swap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_project_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_media,
    default_decoder,
    pil_decoder,
    sample_frames,
    stub_decoder,
)


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks only `multimodal_binary_features` against its
# sf0.001 oracle (the other two rows have none); decoding, failure
# quarantine, frame sampling and the decoder swap are checked only here.
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", {"src": "a"}),
        (2, "audio", b"RIFF fake wav bytes" * 10, {"src": "b"}),
        (3, "video", b"\x00\x00ftyp fake mp4" * 40, {"src": "c"}),
        (4, "hologram", b"unsupported kind", None),  # no decoder -> quarantined
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_media_stub(media_df):
    out = {r.media_id: r for r in decode_media(media_df).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].n_frames == 1  # image
    assert out[2].n_bytes == len(b"RIFF fake wav bytes" * 10)
    assert len(out[3].feature) == FEATURE_DIM
    # deterministic: same payload -> same fake decode
    again = {r.media_id: r for r in decode_media(media_df).collect()}
    assert str(out[3]) == str(again[3])
    # unsupported kind quarantined as NULLs, not a task failure
    assert out[4].width is None and out[4].feature is None


def test_decoder_swap(media_df):
    def constant_decoder(payload: bytes, kind: str) -> dict:
        return {
            "n_bytes": len(payload),
            "width": 42,
            "height": 42,
            "n_frames": 7,
            "feature": [0.5] * FEATURE_DIM,
        }

    out = decode_media(media_df, decoder=constant_decoder).collect()
    assert all(r.width == 42 and r.n_frames == 7 for r in out)


def test_default_decoder_runs_whatever_env_provides(media_df):
    """decode_media(default_decoder()) must work in ANY environment:
    with PIL installed it decodes real images, without it the stub takes
    over — same schema, same quarantine behavior, same suite."""
    out = {
        r.media_id: r
        for r in decode_media(media_df, decoder=default_decoder()).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # audio/video always go through the stub path -> deterministic
    assert out[2].n_bytes == len(b"RIFF fake wav bytes" * 10)
    assert out[4].width is None  # unsupported kind still quarantined
    # the fake-PNG payload is NOT a valid image: with PIL active it lands
    # in quarantine (NULLs); with the stub it decodes to fake dims. Both
    # are valid outcomes of the same contract.
    try:
        import PIL  # noqa: F401

        assert out[1].width is None
    except ImportError:
        assert out[1].width == stub_decoder(b"\x89PNG fake bytes", "image")["width"]


def _pgm_bytes(w: int, h: int) -> bytes:
    """Deterministic binary P5 with a header comment and the gradient
    pattern the old PIL golden used."""
    raster = bytes(i % 256 for i in range(w * h))
    return b"P5\n# golden\n%d %d\n255\n" % (w, h) + raster


def _ppm_bytes(w: int, h: int) -> bytes:
    raster = bytes(
        v for i in range(w * h) for v in (i % 256, (2 * i) % 256, (3 * i) % 256)
    )
    return b"P6 %d %d 255\n" % (w, h) + raster


def _bmp_bytes(w: int, h: int) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP with the P6 pixel grid."""
    import struct

    row_bytes = (w * 3 + 3) & ~3
    pixels = bytearray()
    for r in range(h):
        row = bytearray()
        for c in range(w):
            i = r * w + c
            # BGR order on disk
            row += bytes(((3 * i) % 256, (2 * i) % 256, i % 256))
        row += b"\x00" * (row_bytes - len(row))
        pixels += row
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    return bytes(header) + bytes(pixels)


def test_real_codec_golden_image(spark):
    """Golden test for the REAL codec path — always runs: the pure-python
    netpbm/BMP decoder needs no third-party library. P5, P6 and BMP of
    the same pixel grid must agree on dims and (for P6 vs BMP, identical
    pixels) on the histogram feature."""
    from datawarehouse_project_spark.operators.multimodal import netpbm_decoder

    pgm = _pgm_bytes(13, 7)
    d = netpbm_decoder(pgm, "image")
    assert (d["width"], d["height"], d["n_frames"]) == (13, 7, 1)
    assert len(d["feature"]) == FEATURE_DIM
    assert abs(sum(d["feature"]) - 1.0) < 1e-9  # normalized histogram
    # gradient 0..90 over 16 bins: first 6 bins populated, none beyond
    assert d["feature"][0] > 0 and d["feature"][-1] == 0.0

    d6 = netpbm_decoder(_ppm_bytes(13, 7), "image")
    dbmp = netpbm_decoder(_bmp_bytes(13, 7), "image")
    assert (d6["width"], d6["height"]) == (dbmp["width"], dbmp["height"]) == (13, 7)
    # BMP rows are stored bottom-up, but a histogram is order-free:
    # identical pixel values => identical feature
    assert d6["feature"] == dbmp["feature"]

    media = spark.createDataFrame([(1, "image", pgm, None)], MEDIA_SCHEMA)
    row = decode_media(media, decoder=netpbm_decoder).collect()[0]
    assert (row.width, row.height) == (13, 7)
    assert abs(sum(row.feature) - 1.0) < 1e-6

    # where PIL exists, the two real codecs must agree bit-for-bit on the
    # same PGM (conditional cross-check, not a skip)
    try:
        from PIL import Image  # noqa: F401
    except ImportError:
        pass
    else:
        p = pil_decoder(pgm, "image")
        assert (p["width"], p["height"]) == (13, 7)
        assert p["feature"] == pytest.approx(d["feature"])


def test_resize_media(media_df):
    from datawarehouse_project_spark.operators.multimodal import resize_media

    out = {r.media_id: r for r in resize_media(media_df, 320, 240).collect()}
    for mid in (1, 2, 3):
        r = out[mid]
        assert r.width <= 320 and r.height <= 240
        assert r.payload is not None
        # aspect preserved: scale factor applied to both dims
        d = stub_decoder(
            {1: b"\x89PNG fake bytes", 2: b"RIFF fake wav bytes" * 10,
             3: b"\x00\x00ftyp fake mp4" * 40}[mid],
            r.kind,
        )
        scale = min(320 / max(d["width"], 1), 240 / max(d["height"], 1))
        assert r.width == max(1, int(d["width"] * scale))
        assert r.height == max(1, int(d["height"] * scale))
    assert out[4].payload is None  # unsupported kind quarantined


def test_sample_frames(media_df, spark):
    frames = sample_frames(media_df.filter(F.col("kind") != "hologram"), every_n=10)
    rows = frames.collect()
    assert all(r.frame_index % 10 == 0 for r in rows)
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r.frame_index)
    assert by_id[1] == [0]  # single-frame image
    video_frames = stub_decoder(b"\x00\x00ftyp fake mp4" * 40, "video")["n_frames"]
    assert len(by_id[3]) == (max(video_frames - 1, 0)) // 10 + 1


def test_netpbm_parser_roundtrip_properties():
    """Property: for arbitrary small gray images, the parser recovers
    exact dims, a normalized histogram, and P5 == equivalent P6 == BMP
    features for identical pixel content."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datawarehouse_project_spark.operators.multimodal import netpbm_decoder

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=16),
        h=st.integers(min_value=1, max_value=16),
        data=st.data(),
    )
    def prop(w, h, data):
        gray = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h,
                max_size=w * h,
            )
        )
        p5 = b"P5 %d %d 255\n" % (w, h) + bytes(gray)
        # P6 with R=G=B=g has luma == g exactly (299+587+114=1000)
        p6 = b"P6 %d %d 255\n" % (w, h) + bytes(
            v for g in gray for v in (g, g, g)
        )
        d5, d6 = netpbm_decoder(p5, "image"), netpbm_decoder(p6, "image")
        assert (d5["width"], d5["height"]) == (w, h)
        assert abs(sum(d5["feature"]) - 1.0) < 1e-9
        assert d5["feature"] == d6["feature"]

    prop()


# ------------------------------------------------------------------- audio
def test_wav_codec_round_trip_and_golden_features():
    """synth_wav -> _parse_wav is the identity on samples/rate/channels,
    and wav_decoder's features match an independent computation (the
    stdlib `wave` module writes the golden bytes, proving container
    compatibility beyond our own writer)."""
    import io
    import math
    import wave

    from datawarehouse_project_spark.operators.multimodal import (
        _parse_wav,
        synth_wav,
        wav_decoder,
    )

    samples = [0, 1000, -2000, 3000, -3000, 32767, -32768, 5, -5, 0]
    data = synth_wav(samples, sample_rate=16000)
    parsed = _parse_wav(data)
    assert parsed is not None
    assert parsed["samples"] == samples
    assert parsed["sample_rate"] == 16000 and parsed["n_channels"] == 1

    # golden bytes via the stdlib writer (independent container impl)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        import struct as st

        w.writeframes(st.pack(f"<{len(samples)}h", *samples))
    golden = buf.getvalue()
    feats = wav_decoder(golden, "audio")
    assert feats["decoded"] is True
    assert feats["n_samples"] == len(samples)
    assert feats["sum_sq"] == sum(s * s for s in samples)
    assert feats["peak"] == 32768
    assert math.isclose(
        feats["rms"], (sum(s * s for s in samples) / len(samples)) ** 0.5
    )
    # sign pattern of nonzero samples: + - + - + - + - => 7 crossings
    assert feats["zero_crossings"] == 7
    assert feats["duration_ms"] == len(samples) * 1000 // 16000


def test_wav_codec_rejects_foreign_and_truncated():
    from datawarehouse_project_spark.operators.multimodal import (
        _parse_wav,
        synth_wav,
        wav_decoder,
    )

    ok = synth_wav([100, -100] * 50)
    assert _parse_wav(ok) is not None
    assert _parse_wav(ok[: len(ok) // 2]) is None  # truncated data chunk
    assert _parse_wav(b"ID3\x04rest-of-an-mp3") is None
    stub = wav_decoder(b"ID3\x04rest-of-an-mp3", "audio")
    assert stub["decoded"] is False and stub["sum_sq"] is None
    # 8-bit unsigned PCM decodes centered at 128
    import struct as st

    raw = bytes([128, 228, 28, 128])
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
        + b"data" + st.pack("<I", len(raw)) + raw
    )
    wav8 = b"RIFF" + st.pack("<I", len(body)) + body
    parsed = _parse_wav(wav8)
    assert parsed is not None and parsed["samples"] == [0, 100, -100, 0]


def test_audio_pipeline_end_to_end(spark, sf_dir):
    """The registered synthetic-audio exemplar: WAV rows decode with
    integer-exact features, foreign rows (every third doc) fall back to
    the stub, and the run is deterministic."""
    from datawarehouse_project_spark.catalog import all_queries

    out = all_queries()["multimodal_audio_features"](spark, sf_dir)
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) > 0
    again = {
        r.media_id: r
        for r in all_queries()["multimodal_audio_features"](
            spark, sf_dir
        ).collect()
    }
    assert {k: str(v) for k, v in rows.items()} == {
        k: str(v) for k, v in again.items()
    }
    for mid, r in rows.items():
        if mid % 3 == 0:
            assert r.decoded is False and r.sum_sq is None
        else:
            assert r.decoded is True
            assert r.sample_rate == 8000 and r.n_channels == 1
            assert r.n_samples >= 1 and r.peak <= 32768
            assert r.sum_sq >= 0 and r.rms is not None


def _png_bytes(w: int, h: int, gray=None, ctype: int = 0, filters=None) -> bytes:
    """Minimal PNG writer (test-only): 8-bit, non-interlaced, color type
    0/2/6, forward-filtering each scanline with the given filter types so
    the decoder's unfilter paths are all exercised. Pixels default to the
    P5 golden gradient."""
    import struct
    import zlib

    nch = {0: 1, 2: 3, 6: 4}[ctype]
    if gray is None:
        gray = [i % 256 for i in range(w * h)]
    if ctype == 0:
        px = [[g] for g in gray]
    elif ctype == 2:
        px = [[g, g, g] for g in gray]
    else:
        px = [[g, g, g, 255] for g in gray]
    filters = filters or [0] * h
    stride = w * nch
    raw = bytearray()
    prev = bytearray(stride)
    for r in range(h):
        line = bytearray(v for c in range(w) for v in px[r * w + c])
        ftype = filters[r % len(filters)]
        out = bytearray(stride)
        for i in range(stride):
            a = line[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if ftype == 0:
                out[i] = line[i]
            elif ftype == 1:
                out[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                out[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                out[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (line[i] - pr) & 0xFF
        raw += bytes([ftype]) + out
        prev = line

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_match_netpbm_golden():
    """The pure-python PNG path (stdlib zlib) must reproduce the SAME
    dims + histogram feature as the P5 golden of identical pixels, for
    every scanline filter type — grayscale, truecolor, and RGBA."""
    from datawarehouse_project_spark.operators.multimodal import netpbm_decoder

    want = netpbm_decoder(_pgm_bytes(13, 7), "image")
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        for ctype in (0, 2, 6):
            png = _png_bytes(13, 7, ctype=ctype, filters=filters)
            d = netpbm_decoder(png, "image")
            assert (d["width"], d["height"], d["n_frames"]) == (13, 7, 1), (
                filters,
                ctype,
            )
            assert d["feature"] == want["feature"], (filters, ctype)


def test_png_decode_pil_crosscheck_or_fallback():
    """With PIL importable, the zlib path and PIL must agree bit-for-bit
    on the feature; without PIL this documents the env gate. Unsupported
    PNG variants (16-bit) and truncated streams fall to the stub, never
    crash."""
    from datawarehouse_project_spark.operators.multimodal import (
        _parse_png,
        netpbm_decoder,
        pil_decoder,
    )

    png = _png_bytes(13, 7, ctype=2, filters=[4])
    try:
        import PIL  # noqa: F401

        assert pil_decoder(png, "image") == netpbm_decoder(png, "image")
    except ImportError:
        pass
    # 16-bit depth: IHDR says depth 16 -> unsupported -> None
    import struct

    deep = bytearray(_png_bytes(4, 3))
    assert deep[8 + 4 + 4 + 8] == 8  # depth byte in IHDR
    deep[8 + 4 + 4 + 8] = 16
    assert _parse_png(bytes(deep)) is None
    # truncated IDAT -> zlib error -> None -> stub fallback keeps schema
    trunc = png[: len(png) - 20]
    d = netpbm_decoder(trunc, "image")
    assert d["n_bytes"] == len(trunc)  # stub path, not a crash


def test_real_resample_closes_the_decode_loop(spark):
    """r10: resize with netpbm_resampler produces REAL pixels — the
    output is a decodable P5 whose values equal an independent
    nearest-neighbor reference, for a PGM and a PNG of the same grid;
    undecodable payloads keep the digest stand-in (plumbing contract)."""
    from datawarehouse_project_spark.operators.multimodal import (
        _parse_netpbm,
        netpbm_decoder,
        netpbm_resampler,
        resize_media,
    )

    src_w, src_h, tgt = 13, 7, 5
    pgm = _pgm_bytes(src_w, src_h)
    png = _png_bytes(src_w, src_h, ctype=2, filters=[0, 1, 2, 3, 4])

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(pgm), None),
            (2, "image", bytearray(png), None),
            (3, "image", bytearray(b"not an image"), None),
        ],
        MEDIA_SCHEMA,
    )
    rows = {
        r.media_id: r
        for r in resize_media(
            media, tgt, tgt, decoder=netpbm_decoder, resampler=netpbm_resampler
        ).collect()
    }
    # aspect-preserving bound: 13x7 -> 5x2 (scale 5/13)
    assert (rows[1].width, rows[1].height) == (5, 2)
    out_w, out_h, got = _parse_netpbm(bytes(rows[1].payload))
    assert (out_w, out_h) == (5, 2)
    src_gray = [i % 256 for i in range(src_w * src_h)]
    want = [
        src_gray[min(src_h - 1, (y * src_h) // out_h) * src_w
                 + min(src_w - 1, (x * src_w) // out_w)]
        for y in range(out_h)
        for x in range(out_w)
    ]
    assert got == want
    # PNG of the same pixels resamples to the identical P5 bytes
    assert bytes(rows[2].payload) == bytes(rows[1].payload)
    # undecodable payload: netpbm_decoder falls back to stub dims and the
    # resampler declines, so the payload is the digest stand-in
    assert rows[3].payload is not None
    assert _parse_netpbm(bytes(rows[3].payload)) is None  # digest, not P5


def test_audio_frame_energy_golden_and_trim(spark):
    """r10 frame-level energy: a synthesized quiet-loud-quiet WAV yields
    the exact per-frame integer profile a pure-python reference computes,
    and the active span trims to the loud middle; undecodable payloads
    yield NULLs through the plumbing."""
    import struct

    from datawarehouse_project_spark.operators.multimodal import (
        active_span,
        audio_frame_energy,
        frame_energies,
    )

    frame = 64
    quiet = [0] * (2 * frame)
    loud = [1000 if i % 2 == 0 else -1000 for i in range(3 * frame)]
    samples = quiet + loud + quiet
    raw = struct.pack(f"<{len(samples)}h", *samples)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(raw)) + raw
    )

    en = audio_frame_energy(wav, frame_len=frame)
    want = [
        sum(s * s for s in samples[i : i + frame])
        for i in range(0, len(samples), frame)
    ]
    assert en == want
    assert active_span(en, 0) == (2, 4)  # frames 2..4 are the loud burst
    assert active_span([0, 0], 0) is None

    media = spark.createDataFrame(
        [
            (1, "audio", bytearray(wav), None),
            (2, "audio", bytearray(b"not audio"), None),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in frame_energies(media, frame_len=frame).collect()}
    assert list(rows[1].energies) == want
    assert (rows[1].active_start, rows[1].active_end) == (2, 4)
    assert rows[1].n_frames == len(want)
    assert rows[2].energies is None and rows[2].active_start is None
