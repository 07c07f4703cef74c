"""Seeded fuzz regression for every hand-rolled binary parser: the
image/audio/video header decoders and the WARC record scanner run
inside Arrow batches on untrusted crawl bytes, so an uncaught
exception is a task failure — the contract is None/empty, NEVER a
raise, for any input.  Truncations, byte mutations, junk suffixes,
mid-stream WARC markers, and corrupt gzip containers are all
exercised (deterministic seed: a found counterexample stays found)."""

from __future__ import annotations

import gzip
import random
import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))


def _mutations(rng, seed_blob: bytes, n: int):
    for _ in range(n):
        b = bytearray(seed_blob)
        op = rng.random()
        if op < 0.35 and len(b) > 1:
            b = b[: rng.randrange(len(b))]
        elif op < 0.7 and b:
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        else:
            b += bytes(
                rng.randrange(256) for _ in range(rng.randrange(24))
            )
        yield bytes(b)


def test_media_decoders_never_raise():
    from test_multimodal import (
        _avi,
        _flac,
        _gif,
        _gif_px,
        _jpeg_enc,
        _mp4,
        _png_raw,
        _tiff,
        _tiff_px,
        _wav,
    )

    from arachne_spark.operators.multimodal import (
        decode_aiff_samples,
        decode_audio,
        decode_bmp_pixels,
        decode_flac_samples,
        decode_gif_pixels,
        decode_ico_pixels,
        decode_image,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_tiff_pixels,
        decode_video,
        decode_wav_samples,
    )

    from __spark_entry__ import _box, _ima_block, _ms_block, _ulaw_enc

    rng = random.Random(20260818)

    # structurally valid MP4 whose moov holds a HEADER-ONLY mvhd
    # ending exactly at payload end — indexed past the buffer before
    # the body-size guard (found by an external review, kept as a seed)
    empty_mvhd_mp4 = (
        _box(b"ftyp", b"isom" + b"\x00" * 8)
        + _box(b"mdat")
        + _box(b"moov", _box(b"mvhd"))
    )
    from arachne_spark.operators.multimodal import decode_video as _dv

    assert _dv(empty_mvhd_mp4) is None

    # real-IDAT PNG seed: mutations hit the zlib-inflate and
    # unfilter paths of decode_png_pixels, not just the chunk walk
    pixel_png = _png_raw(6, 5, 2, lambda x, y: (x * 40, y * 50, 7))

    from test_multimodal import _mp3, _ogg, _png_adam7, _png_pal

    # compressed-audio seeds: mutations hit the MP3 frame-header walk
    # and the OGG page/segment-table walk of decode_audio
    mp3_seed = _mp3(n_frames=4, pad_odd=True, id3v2=32)
    ogg_seed = _ogg(codec="opus", granule=9600)

    pixel_pal_png = _png_pal(
        6, 5, 4,
        [(x + y) % 3 for y in range(5) for x in range(6)],
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
    )

    # Adam7 seed: mutations hit the per-pass unfilter + scatter path
    adam7_png = _png_adam7(9, 6, 8, 2, lambda x, y: (x * 20, y * 30, 5))

    pixel_gif = _gif_px(
        5, 4, [(x + y) % 3 for y in range(4) for x in range(5)],
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
    )

    pixel_tiff = _tiff_px(
        6, 4,
        bytes((x + y) % 256
              for y in range(4) for x in range(6) for _ in range(3)),
    )

    # compressed-TIFF seed: mutations hit the per-strip deflate +
    # predictor-undo path (PackBits is covered by mutations flipping
    # the compression tag to 32773 and by the unit tests)
    deflate_tiff = _tiff_px(
        6, 4,
        bytes((x * 3 + y) % 256
              for y in range(4) for x in range(6) for _ in range(3)),
        compression=8, predictor=2,
    )

    # LZW-TIFF seed: mutations hit the variable-width MSB-first code
    # walk of _tiff_lzw (bad codes, truncated streams, width desync)
    lzw_tiff = _tiff_px(
        6, 4,
        bytes((x * 5 + y * 2) % 256
              for y in range(4) for x in range(6) for _ in range(3)),
        compression=5,
    )

    # JPEG-in-TIFF seed: mutations hit the strip-geometry checks, the
    # JPEGTables splice, and the delegated T.81 decode
    from test_multimodal import _bmp_px, _tiff_jpeg

    jpeg_tiff = _tiff_jpeg(
        16, 16, bytes([40] * 16 * 8 + [200] * 16 * 8),
        spp=1, n_strips=1, use_tables=True,
    )

    # palettized-BMP seed: mutations hit the palette bounds, sub-byte
    # index unpack, and row-padding walk of decode_bmp_pixels
    pixel_bmp = _bmp_px(
        6, 4, bytes([255, 0, 0] * 3 + [0, 0, 255] * 3) * 4, bpp=4,
    )

    # RLE-BMP seed: mutations hit the run/escape state machine and
    # absolute-run padding of _bmp_rle
    from test_multimodal import _bmp_rle_px

    rle_bmp = _bmp_rle_px(
        9, 5, [[(x + y) % 3 for x in range(9)] for y in range(5)],
        [(200, 10, 10), (10, 200, 10), (10, 10, 200)],
        use_absolute=True,
    )

    # real-frame FLAC seed: mutations hit the frame-header CRC, rice
    # partition walk, and predictor reconstruction of
    # decode_flac_samples
    from test_multimodal import _flac_enc, _mp4_frames

    sample_flac = _flac_enc(
        [[(i * 37) % 2000 - 1000 for i in range(96)]], blocksize=64,
    )

    # sample-table MP4 seed: mutations hit the stsz/stsc/stco walk and
    # chunk-offset bounds of _mp4_video_frames
    table_mp4 = _mp4_frames([bytes([i] * (5 + i)) for i in range(5)])
    # hostile-stsc seed: run-start 0xFF000001 once expanded to a
    # multi-GB samples-per-chunk list (exhaustive-sweep find); the
    # run-table bound must hold under further mutation too
    hostile_stsc = bytearray(
        _mp4_frames([bytes([i] * (5 + i)) for i in range(5)],
                    chunks=[3, 1, 1]))
    _r1 = hostile_stsc.index(b"stsc") + 4 + 8 + 12
    hostile_stsc[_r1:_r1 + 4] = (0xFF000001).to_bytes(4, "big")
    hostile_stsc = bytes(hostile_stsc)

    # tiled-TIFF seed: mutations hit the tile-grid geometry, per-tile
    # decompression, and placement-crop paths
    from test_multimodal import _tiff_ext, _tiff_tiled

    tiled_tiff = _tiff_tiled(
        11, 10,
        bytes((x + y) % 256
              for y in range(10) for x in range(11) for _ in range(3)),
        4, 4, compression=5, predictor=2,
    )

    # 16-bit planar TIFF seed: mutations hit the sample-width
    # predictor, plane re-interleave, and high-byte reduction
    deep_tiff = _tiff_ext(
        5, 4,
        [(x * 997 + y * 313 + c) % 65536
         for y in range(4) for x in range(5) for c in range(3)],
        spp=3, planar=2, predictor=2,
    )

    # animated-GIF seed: mutations hit the descriptor walk, local
    # palette promotion, and frame re-wrap of _gif_video_frames
    from test_multimodal import _gif_anim

    anim_gif = _gif_anim(
        [(6, 5, [(x + y) % 4 for y in range(5) for x in range(6)],
          None, False),
         (4, 4, [(x * y) % 2 for y in range(4) for x in range(4)],
          [(10, 20, 30), (200, 100, 50)], True)],
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)],
    )

    # real-scan JPEG seed: mutations hit the Huffman/bit-reader and
    # MCU walk of decode_jpeg_pixels, not just the marker walk
    pixel_jpeg = _jpeg_enc(
        bytes((x * 13 + y * 7) % 256
              for y in range(10) for x in range(9) for _ in range(3)),
        9, 10, 3, subsample=True, dri=1,
    )

    from test_multimodal import _jpeg_prog_enc

    # progressive-JPEG seed: mutations hit the multi-scan coefficient
    # accumulation (DC/AC first + refinement, EOB runs) and the
    # between-scan marker resync
    pixel_prog_jpeg = _jpeg_prog_enc(
        bytes((x * 5 + y * 3) % 256
              for y in range(10) for x in range(9) for _ in range(3)),
        9, 10, 3,
        [([0, 1, 2], 0, 0, 0, 1), ([0, 1, 2], 0, 0, 1, 0),
         ([0], 1, 63, 0, 1), ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
         ([0], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0)],
        subsample=True,
    )

    # restart-interval seeds: mutations hit the shared block loop's
    # restart path in progressive DC/AC scans, and a one-component
    # sequential scan whose 2x2 sampling leaves it non-interleaved
    prog_dri_jpeg = _jpeg_prog_enc(
        bytes((x * 11 + y * 5) % 256
              for y in range(10) for x in range(9) for _ in range(3)),
        9, 10, 3,
        [([0, 1, 2], 0, 0, 0, 1), ([0], 0, 0, 1, 0), ([0], 1, 63, 0, 1),
         ([1], 1, 63, 0, 0), ([0], 1, 63, 1, 0)],
        subsample=True, dri=1,
    )
    from test_multimodal import _jpeg_resample

    gray_22_jpeg = _jpeg_resample(
        _jpeg_enc(bytes((x * 9 + y * 21) % 256
                        for y in range(16) for x in range(16)),
                  16, 16, 1, dri=1),
        0x22,
    )

    # MJPEG-AVI seed: mutations hit the RIFF walk + real frame
    # extraction of _avi_scan through decode_video
    mjpeg_avi = _avi(
        [_jpeg_enc(bytes([g] * 64), 8, 8, 1) for g in (30, 90)],
        w=8, h=8, rec_group=True,
    )

    # compressed-WAV seeds: mutations hit the G.711 table path and
    # the IMA/MS ADPCM block walks (header indices, fact truncation)
    from test_multimodal import _wav_coded

    ulaw_wav = _wav_coded(
        7, 1, 8000, 8,
        1, bytes(_ulaw_enc(v * 600 - 9000) for v in range(30)),
        fact=30,
    )
    ima_wav = _wav_coded(
        0x11, 2, 8000, 4, 24,
        _ima_block(
            [[(k * 700 + c) % 4000 - 2000 for k in range(17)]
             for c in range(2)], 2, 24, (3, 40),
        )[0],
        fact=17,
    )
    ms_wav = _wav_coded(
        2, 1, 11025, 4, 15,
        _ms_block(
            [[(k * 450) % 3000 - 1500 for k in range(18)]],
            1, 15, 0, 64,
        )[0],
        fact=18,
    )

    # MS Video 1 seeds: mutations hit the block-mode dispatch, skip
    # runs, palette bounds and the DIB/CRAM re-wrap path of
    # _avi_video_frames (strf capture + BM header assembly)
    from test_multimodal import _bih, _wrap_bmp

    msv1_pal = bytes((i * 5) % 256 for i in range(64))
    msv1_stream = bytes(
        [3, 0x80, 0xC3, 0x5A, 1, 2]
        + [0x35, 0x9F, 4, 5, 6, 7, 8, 9, 10, 11, 1, 0x84]
    )
    cram_bmp = _wrap_bmp(_bih(8, 8, 8, b"CRAM", msv1_pal),
                         msv1_stream)
    cram_avi = _avi([msv1_stream, bytes([2, 0x84])], w=8, h=8,
                    handler=b"CRAM",
                    strf=_bih(8, 8, 8, b"CRAM", msv1_pal))
    msv1_16 = _wrap_bmp(
        _bih(4, 8, 16, b"MSVC"),
        bytes([0x0F, 0x0F, 0x34, 0x12, 0xFF, 0x7F, 0x55, 0xA5]),
    )

    # MJPEG sample-table MP4 + strf-carrying MJPG AVI: mutations hit
    # the composed-pixel path (_jpeg_sequence_compose) end to end
    mjpeg_mp4 = _mp4_frames(
        [_jpeg_enc(bytes([g] * 64), 8, 8, 1) for g in (10, 200)]
    )
    mjpeg_strf_avi = _avi(
        [_jpeg_enc(bytes(range(64)), 8, 8, 1)] * 2,
        w=8, h=8, strf=_bih(8, 8, 24, b"MJPG"),
    )

    # AIFF seeds: mutations hit the big-endian IFF walk, the 80-bit
    # extended-rate parse, and the AIFC codec dispatch of
    # decode_aiff_samples
    import struct as _struct

    from test_multimodal import _aiff, _mkv

    aiff_seed = _aiff(
        2, 44100, 16,
        b"".join(_struct.pack(">h", (k * 613) % 3000 - 1500)
                 for k in range(24)), 12,
    )
    aifc_seed = _aiff(
        1, 8000, 16,
        bytes(_ulaw_enc(v * 800 - 8000) for v in range(20)), 20,
        codec=b"ulaw",
    )

    # ICO seeds: mutations hit the ICONDIR bounds checks, the DIB
    # XOR-plane re-wrap and the embedded-PNG delegation
    from test_multimodal import _ico, _ico_dib, _png_raw

    ico_rgb = bytes((x * 11 + y * 17 + 2 * c) % 256
                    for y in range(5) for x in range(6)
                    for c in range(3))
    ico_seed = _ico([
        _ico_dib(6, 5, ico_rgb),
        _png_raw(8, 7, 2, lambda x, y: (x * 9, y * 13, 5)),
    ])
    # palettized ICO DIB with biClrUsed set, and a CRAM AVI whose strf
    # is a 108-byte BITMAPV4HEADER: mutations hit the shared DIB
    # header parse and palette read of all three containers
    from test_multimodal import _cram_avi_v4

    pal_rgb = bytes(c for y in range(5) for x in range(6)
                    for c in ((255, 0, 0), (0, 0, 255))[(x + y) % 2])
    pal_dib = bytearray(_bmp_px(6, 5, pal_rgb, bpp=8)[14:])
    pal_dib[8:12] = (10).to_bytes(4, "little")  # doubled biHeight
    ico_pal = _ico([bytes(pal_dib) + bytes(4 * 5)])  # + AND mask
    assert decode_ico_pixels(ico_pal)["pixels"] == pal_rgb
    cram_v4_avi = _cram_avi_v4()

    # WebP / HEIF seeds: mutations hit the RIFF-tiling check and the
    # pitm→ipma→ipco association walk of the new header decoders
    from test_multimodal import _heif, _webp

    webp_seeds = [
        _webp(320, 200, "lossy"),
        _webp(77, 33, "lossless"),
        _webp(1024, 768, "extended"),
    ]
    heif_seed = _heif(30, 40, ipma_flags=1, extra_ispe_first=(7, 7))

    # Matroska/WebM seeds: mutations hit the EBML vint widths, the
    # element-tiling check, the Segment/Info/Tracks walk, and (via
    # the block-carrying seed) the SimpleBlock un-lacing paths
    from test_multimodal import _mkv_block

    mkv_seeds = [
        _mkv(),
        _mkv(doctype=b"matroska", audio_first=True,
             unknown_segment=True, scale=100_000),
        _mkv(audio_first=True, cluster_body=(
            _mkv_block(1, [bytes(range(40))])
            + _mkv_block(2, [b"audio"])
            + _mkv_block(1, [bytes(range(30)), bytes(range(50)),
                             bytes(range(20))], "xiph")
            + _mkv_block(1, [bytes(range(25))] * 3, "fixed")
            + _mkv_block(1, [bytes(range(35)), bytes(range(45)),
                             bytes(range(15))], "ebml")
            + _mkv_block(1, [bytes(range(12))], group=True))),
    ]

    seeds = webp_seeds + mkv_seeds + [
        heif_seed, aiff_seed, aifc_seed, ico_seed,
        _mp4(), _flac(), _wav(2, 8000, 16, 100), _gif(3, 3),
        _tiff(9, 9), empty_mvhd_mp4, pixel_png, pixel_pal_png,
        adam7_png, pixel_gif, pixel_tiff, deflate_tiff, lzw_tiff,
        jpeg_tiff, pixel_bmp, rle_bmp, sample_flac, table_mp4,
        hostile_stsc,
        tiled_tiff, deep_tiff, anim_gif, pixel_jpeg,
        pixel_prog_jpeg, mjpeg_avi, mp3_seed, ogg_seed,
        ulaw_wav, ima_wav, ms_wav, cram_bmp, cram_avi, msv1_16,
        mjpeg_mp4, mjpeg_strf_avi, prog_dri_jpeg, gray_22_jpeg,
        ico_pal, cram_v4_avi,
    ]
    decoders = (
        decode_image, decode_audio, decode_video, decode_png_pixels,
        decode_wav_samples, decode_gif_pixels, decode_tiff_pixels,
        decode_jpeg_pixels, decode_bmp_pixels, decode_flac_samples,
        decode_aiff_samples, decode_ico_pixels,
    )
    from arachne_spark.operators.multimodal import (
        _avi_video_frames,
        _gif_video_frames,
        _mkv_video_frames,
        _mp4_video_frames,
        compose_video_pixels,
    )

    decoders = decoders + (compose_video_pixels,)

    extractors = (
        _avi_video_frames, _mp4_video_frames, _gif_video_frames,
        _mkv_video_frames,
    )
    for seed in seeds:
        for blob in _mutations(rng, seed, 800):
            for fn in decoders:
                out = fn(blob)  # must return, never raise
                assert out is None or isinstance(out, dict)
            for fn in extractors:
                out = fn(blob)  # frame extractors return lists
                assert out is None or isinstance(out, list)
    for _ in range(2000):
        blob = bytes(
            rng.randrange(256) for _ in range(rng.randrange(200))
        )
        for fn in decoders:
            out = fn(blob)
            assert out is None or isinstance(out, dict)


def test_never_raise_boundary(monkeypatch):
    """Every structure walk reads through the one bounds check
    (``multimodal._need``).  A Malformed raised there, deep inside a
    walk, comes back as None from each public decoder and frame
    extractor; a MemoryError raised at the same point propagates
    through the boundary — the capped sweeps rely on seeing it."""
    import pytest
    from test_multimodal import (
        _aiff,
        _bmp_px,
        _gif_anim,
        _gif_px,
        _ico,
        _ico_dib,
        _jpeg_enc,
        _mkv,
        _mkv_block,
        _mp4,
        _mp4_frames,
        _png_raw,
        _tiff_px,
        _wav,
    )

    import arachne_spark.operators.multimodal as mm

    png = _png_raw(4, 3, 2, lambda x, y: (x * 40, y * 50, 7))
    gif = _gif_px(3, 2, [0, 1, 2, 2, 1, 0], [(255, 0, 0), (0, 255, 0),
                                             (0, 0, 255)])
    anim = _gif_anim(  # frame k sits at left = k
        [(3, 2, [0, 1, 1, 0, 0, 1], None, False),
         (2, 2, [1, 0, 0, 1], None, False)],
        [(255, 0, 0), (0, 0, 255)],
    )
    cases = [
        (mm.decode_image, png), (mm.decode_png_pixels, png),
        (mm.decode_gif_pixels, gif), (mm.compose_video_pixels, anim),
        (mm._gif_video_frames, anim),
        (mm.decode_tiff_pixels, _tiff_px(2, 2, bytes(range(12)))),
        (mm.decode_bmp_pixels, _bmp_px(2, 2, bytes(range(12)))),
        (mm.decode_ico_pixels,
         _ico([_ico_dib(2, 2, bytes(range(12)))])),
        (mm.decode_jpeg_pixels, _jpeg_enc(bytes([90] * 64), 8, 8, 1)),
        (mm.decode_audio, _wav()), (mm.decode_wav_samples, _wav()),
        (mm.decode_aiff_samples,
         _aiff(1, 8000, 16, bytes(range(40)), 20)),
        (mm.decode_video, _mp4()),
        (mm._mp4_video_frames, _mp4_frames([b"abc", b"defg"])),
        (mm._mkv_video_frames,
         _mkv(cluster_body=_mkv_block(1, [bytes(range(9))]))),
    ]
    for fn, blob in cases:
        assert fn(blob) is not None, fn.__name__

    def raising(exc):
        def need(count, limit):
            raise exc
        return need

    monkeypatch.setattr(mm, "_need", raising(mm.Malformed("deep")))
    for fn, blob in cases:
        assert fn(blob) is None, fn.__name__
    monkeypatch.setattr(mm, "_need", raising(MemoryError()))
    for fn, blob in cases:
        with pytest.raises(MemoryError):
            fn(blob)


def test_exhaustive_sweeps_capped():
    """Systematic (non-random) adversarial sweeps — truncation at
    every position and 4/2-byte max-value field patches — run in a
    SUBPROCESS under a 6 GiB address-space cap, so an allocation
    driven by a hostile count/dimension field fails as MemoryError
    instead of an executor/host OOM.  This is the harness that found
    the stsc samples-per-chunk memory bomb; keeping it in CI pins the
    whole attack class, not just the one payload."""
    import subprocess

    helper = str(Path(__file__).parent / "sweep_helper.py")
    proc = subprocess.run(
        [sys.executable, helper], capture_output=True, text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "TRUNCATION SWEEP CLEAN" in proc.stdout
    assert "FIELD-PATCH SWEEP CLEAN" in proc.stdout


def test_warc_parser_never_raises():
    from test_warc import RECORDS, _wet_record

    from arachne_spark.sources.warc import (
        _decompress,
        _parse_records,
        write_warc_bytes,
    )

    rng = random.Random(20260818)
    base = write_warc_bytes(RECORDS[:5]) + _wet_record(
        "https://x/y", datetime(2024, 1, 1), b"text body here"
    )
    for blob in _mutations(rng, base, 1500):
        # also splice a WARC marker mid-stream on some trials
        if rng.random() < 0.3 and blob:
            ins = rng.randrange(len(blob))
            blob = blob[:ins] + b"WARC/1.0\r\n" + blob[ins:]
        stats: dict = {}
        rows = list(_parse_records(_decompress(blob), stats))
        assert stats["dropped"] >= 0  # stats always well-formed
        for r in rows:
            assert r["url"] and r["warc_ts"] is not None
    for _ in range(500):  # corrupt gzip containers
        b = bytearray(gzip.compress(base))
        for _ in range(rng.randrange(1, 5)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        list(_parse_records(_decompress(bytes(b))))
