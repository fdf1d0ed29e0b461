"""Multimodal binary-column plumbing: resize composes with decode and
frame-sample (binary in -> binary out), checked against a pure-Python model
of the same byte math."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cses2humio_spark.operators.multimodal import (
    decode_media,
    frame_sample,
    resize_media,
    synthesize_media,
)
from cses2humio_spark.sources.catalog import load_table
from tests.conftest import SF_SMALL


def test_resize_matches_python_model(spark):
    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 50)
    media = synthesize_media(docs)
    out = {r.doc_id: r for r in resize_media(media, factor=4).collect()}
    for r in docs.select("doc_id", "text").collect():
        expect = r.text.encode("utf-8")[::4]
        got = out[r.doc_id]
        assert bytes(got.payload) == expect, r.doc_id
        assert got.meta.n_bytes == len(expect)
        assert got.meta.scale == 4


def test_resize_composes_with_decode_and_frame_sample(spark):
    """resize output is a valid media column: frame_sample consumes it
    directly, and its n_bytes metadata is consistent with the payload."""
    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 30)
    media = synthesize_media(docs)
    resized = resize_media(media, factor=2)
    frames = frame_sample(resized, every_n_bytes=16)
    n_frames = frames.count()
    assert n_frames > 0
    # every sampled offset is inside the RESIZED payload
    joined = frames.join(
        resized.select("doc_id", F.col("meta.n_bytes").alias("nb")), on="doc_id"
    )
    assert joined.filter(F.col("byte_offset") >= F.col("nb")).count() == 0


def test_resize_rejects_bad_factor(spark):
    import pytest

    from cses2humio_spark.operators.multimodal import synthesize_media

    docs = load_table(spark, SF_SMALL, "documents").limit(1)
    media = synthesize_media(docs)
    with pytest.raises(ValueError):
        resize_media(media, factor=0)


def test_pivot_map_prefixes_colliding_keys(spark):
    from pyspark.sql import functions as F

    from cses2humio_spark.operators.reshape import pivot_map_to_columns

    df = spark.createDataFrame([(1, {"offset": "x", "fresh": "y"})], "offset bigint, m map<string,string>")
    out = pivot_map_to_columns(df, "m")
    assert out.columns == ["offset", "fresh", "m_offset"]
    row = out.collect()[0]
    assert row.offset == 1 and row.m_offset == "x" and row.fresh == "y"


def test_ppm_decode_resize_roundtrip(spark):
    """resize_ppm must produce VALID P6 that decode_ppm re-decodes, with
    stride-sampled dims and the exact stride-sampled channel means."""
    import numpy as np

    from cses2humio_spark.operators.multimodal import (
        decode_ppm,
        resize_ppm,
        synthesize_ppm_media,
    )
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 40)
    media = synthesize_ppm_media(docs)
    small = decode_ppm(resize_ppm(media, factor=2)).collect()
    assert small, "no rows decoded"
    for r in small:
        d = r.doc_id
        w, h = 8 + d % 8, 6 + d % 5
        nw, nh = len(range(0, w, 2)), len(range(0, h, 2))
        assert (r.width, r.height) == (nw, nh), (d, r.width, r.height)
        j = np.arange(w * h * 3, dtype=np.int64)
        img = ((7 * d + 13 * j) % 256).reshape(h, w, 3)
        exp = img[::2, ::2, :].astype(np.float64)
        assert abs(r.mean_r - round(float(exp[:, :, 0].mean()), 6)) < 1e-9
        assert abs(r.mean_b - round(float(exp[:, :, 2].mean()), 6)) < 1e-9


def test_ppm_decoder_rejects_malformed(spark):
    """A corrupt blob must fail the job loudly — truncated pixel data and
    a wrong magic are data bugs, not rows to drop silently."""
    import pytest

    from cses2humio_spark.operators.multimodal import decode_ppm

    good_header_short_body = b"P6\n4 2\n255\n" + b"\x00" * 5  # needs 24
    wrong_magic = b"P5\n4 2\n255\n" + b"\x00" * 24
    for payload in (good_header_short_body, wrong_magic):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id bigint, payload binary"
        )
        with pytest.raises(Exception, match="P6|bytes"):
            decode_ppm(df).collect()


def test_wav_decoder_rejects_non_canonical(spark):
    import pytest

    from cses2humio_spark.operators.multimodal import decode_wav

    df = spark.createDataFrame(
        [(1, bytearray(b"RIFX" + b"\x00" * 60))], "doc_id bigint, payload binary"
    )
    with pytest.raises(Exception, match="RIFF"):
        decode_wav(df).collect()


def test_video_sampler_full_rate_and_rejects_bad_container(spark):
    import pytest

    from cses2humio_spark.operators.multimodal import (
        sample_video_frames,
        synthesize_video_media,
    )
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 30)
    media = synthesize_video_media(docs)
    rows = sample_video_frames(media, every_k=1).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, set()).add(r.frame_idx)
    for d, frames in per_doc.items():
        assert frames == set(range(4 + d % 5)), (d, frames)

    bad = spark.createDataFrame(
        [(1, bytearray(b"NOPE" + b"\x00" * 40))], "doc_id bigint, payload binary"
    )
    with pytest.raises(Exception, match="VID0"):
        sample_video_frames(bad).collect()


def test_resize_rejects_truncated_payload(spark):
    """A payload ending inside a header comment must raise, not spin the
    executor task forever (the parse loops are bounded by len(buf))."""
    import pytest

    from cses2humio_spark.operators.multimodal import resize_ppm

    trunc_in_comment = b"P6\n# a comment with no newline"
    trunc_in_header = b"P6\n4 "
    for payload in (trunc_in_comment, trunc_in_header):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id bigint, payload binary"
        )
        with pytest.raises(Exception, match="truncated"):
            resize_ppm(df).collect()


def test_ppm_header_parser_is_bounded_and_shared():
    """The module-level parser is the single source of truth for header
    parsing; factory-produced so cloudpickle ships it by value (workers
    cannot import this package when the driver runs from another cwd)."""
    import pytest

    from cses2humio_spark.operators.multimodal import parse_ppm_header

    assert parse_ppm_header(b"P6\n# c\n4 2\n255\nXYZ") == (4, 2, 255, 15)
    with pytest.raises(ValueError, match="truncated"):
        parse_ppm_header(b"P6\n# endless comment")
    with pytest.raises(ValueError, match="P6"):
        parse_ppm_header(b"P5\n4 2\n255\n")
    # by-value pickling contract: qualname must not resolve at module level
    assert "<locals>" in parse_ppm_header.__qualname__


def test_pgm_decoder_roundtrip_and_rejects_malformed(spark):
    """P5 decode parity with the generative formula, plus loud failure on
    truncated pixel data and on a P6 magic fed to the P5 decoder."""
    import numpy as np
    import pytest

    from cses2humio_spark.operators.multimodal import (
        decode_pgm,
        synthesize_pgm_media,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    out = {r.doc_id: r for r in decode_pgm(synthesize_pgm_media(docs)).collect()}
    for d in range(20):
        r = out[d]
        w, h = 12 + d % 7, 5 + d % 6
        assert (r.width, r.height) == (w, h)
        j = np.arange(w * h, dtype=np.int64)
        px = (11 * d + 23 * j) % 256
        assert abs(r.mean_gray - round(float(px.mean()), 6)) < 1e-9
        assert r.byte_checksum == int(px.sum()) % 10**9

    for payload in (b"P5\n4 2\n255\n" + b"\x00" * 3, b"P6\n4 2\n255\n" + b"\x00" * 8):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id bigint, payload binary"
        )
        with pytest.raises(Exception, match="P5|bytes"):
            decode_pgm(df).collect()


def test_bmp_decode_handles_flip_padding_and_bgr(spark):
    """Hand-built 2x2 24-bpp BMP: stride padding present (2*3=6 -> 8),
    rows stored bottom-up, channels BGR. The decoder must report
    image-space values."""
    import struct

    from pyspark.sql import Row

    from cses2humio_spark.operators.multimodal import decode_bmp

    w, h = 2, 2
    # image-space RGB pixels: top row (1,2,3),(4,5,6); bottom (7,8,9),(10,11,12)
    top = [(1, 2, 3), (4, 5, 6)]
    bottom = [(7, 8, 9), (10, 11, 12)]
    stride = (w * 3 + 3) // 4 * 4
    def row_bytes(px_row):
        raw = b"".join(bytes([b_, g, r]) for (r, g, b_) in px_row)  # BGR
        return raw + b"\x00" * (stride - len(raw))
    body = row_bytes(bottom) + row_bytes(top)  # bottom-up file order
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    payload = struct.pack("<2sIHHI", b"BM", 14 + 40 + stride * h, 0, 0, 54) + info + body

    df = spark.createDataFrame([Row(doc_id=1, payload=bytearray(payload))])
    got = decode_bmp(df).first()
    assert (got["width"], got["height"]) == (2, 2)
    assert got["mean_r"] == (1 + 4 + 7 + 10) / 4
    assert got["mean_g"] == (2 + 5 + 8 + 11) / 4
    assert got["mean_b"] == (3 + 6 + 9 + 12) / 4
    assert got["top_row_sum"] == sum(sum(p) for p in top)  # flip-sensitive
    assert got["byte_checksum"] == sum(range(1, 13))  # padding excluded


def test_bmp_decode_rejects_truncated_and_unsupported(spark):
    import struct

    import pytest
    from pyspark.sql import Row
    from pyspark.errors import PythonException

    from cses2humio_spark.operators.multimodal import decode_bmp

    info = struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 24, 0, 64, 0, 0, 0, 0)
    truncated = struct.pack("<2sIHHI", b"BM", 118, 0, 0, 54) + info + b"\x00" * 10
    df = spark.createDataFrame([Row(doc_id=1, payload=bytearray(truncated))])
    with pytest.raises(PythonException, match="truncated BMP"):
        decode_bmp(df).collect()

    bad_bpp = struct.pack("<2sIHHI", b"BM", 118, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 64, 0, 0, 0, 0
    ) + b"\x00" * 64
    df2 = spark.createDataFrame([Row(doc_id=1, payload=bytearray(bad_bpp))])
    with pytest.raises(PythonException, match="unsupported BMP"):
        decode_bmp(df2).collect()


def test_tga_decoder_honors_per_file_origin_and_id_field(spark):
    """TGA's two quirks vs BMP: a VARIABLE image-ID field (must be
    skipped) and a PER-FILE origin bit. Even ids are top-down, odd ids
    bottom-up — the flip-sensitive top_row_sum must still agree with the
    image-space formula for both."""
    from cses2humio_spark.operators.multimodal import (
        decode_tga,
        synthesize_tga_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = {r["doc_id"]: r for r in decode_tga(synthesize_tga_media(docs)).collect()}
    for d in range(12):
        r = out[d]
        assert r["top_down"] == (1 if d % 2 == 0 else 0)
        assert r["id_len"] == (7 + len(str(d)) if d % 3 == 0 else 0)
        w = 4 + d % 7
        want_top = sum(
            (3 * d + 5 * x) % 256
            + (3 * d + 5 * x + 11) % 256
            + (3 * d + 5 * x + 22) % 256
            for x in range(w)
        )
        assert r["top_row_sum"] == want_top, d


def test_tga_decoder_rejects_unsupported(spark):
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import decode_tga

    # RLE-compressed type (10) must raise, not silently mis-decode
    bad = bytes([0, 0, 10] + [0] * 15)
    df = spark.createDataFrame([(1, bytearray(bad))], "doc_id long, payload binary")
    with _pytest.raises(Exception, match="unsupported TGA"):
        decode_tga(df).collect()
    short = spark.createDataFrame(
        [(2, bytearray(b"xy"))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="short header"):
        decode_tga(short).collect()


def test_png_roundtrip_all_filters_and_multi_idat(spark):
    """The synthesized PNGs cycle scanline filters (doc_id+row) % 5, so
    docs 0..4 collectively start at every filter type; the decoder must
    reverse all five and reassemble split IDAT chunks."""
    from cses2humio_spark.operators.multimodal import (
        decode_png,
        synthesize_png_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = {
        r["doc_id"]: r
        for r in decode_png(synthesize_png_media(docs)).collect()
    }
    assert len(out) == 10
    # closed-form check against the generative formula
    for d, r in out.items():
        w, h = 5 + d % 9, 4 + d % 5
        assert (r["width"], r["height"]) == (w, h)
        vals = [
            (3 * d + 5 * x + 7 * y) % 256
            for x in range(w) for y in range(h)
        ]
        assert abs(r["mean_r"] - round(sum(vals) / len(vals), 6)) < 1e-6
        top = sum(
            (3 * d + 5 * x) % 256
            + (3 * d + 5 * x + 11) % 256
            + (3 * d + 5 * x + 22) % 256
            for x in range(w)
        )
        assert r["top_row_sum"] == top
    # the zlib stream is long enough to split -> exactly two IDAT chunks
    assert {r["n_idat"] for r in out.values()} <= {1, 2}
    assert any(r["n_idat"] == 2 for r in out.values())


def test_png_decoder_rejects_corruption(spark):
    import struct

    from cses2humio_spark.operators.multimodal import (
        decode_png,
        synthesize_png_media,
    )

    docs = spark.createDataFrame([(1,)], "doc_id long")
    [row] = synthesize_png_media(docs).collect()
    buf = bytearray(bytes(row["payload"]))
    # flip one bit inside the first IDAT body -> CRC check must fire
    pos = 8
    while True:
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = bytes(buf[pos + 4 : pos + 8])
        if tag == b"IDAT":
            buf[pos + 8] ^= 0x01
            break
        pos += 12 + ln
    bad = spark.createDataFrame(
        [(1, bytes(buf))], "doc_id long, payload binary"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="CRC"):
        decode_png(bad).collect()
    # truncated signature
    bad2 = spark.createDataFrame(
        [(1, b"\x89PNX" + bytes(16))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="not a PNG"):
        decode_png(bad2).collect()


def test_gif_lzw_roundtrip_and_sub_blocks(spark):
    """The GIF decoder must reproduce the generative formula through a
    REAL LZW stream (multi-char dictionary entries, code-width growth,
    CLEAR resets) reassembled from 255-byte sub-blocks."""
    from cses2humio_spark.operators.multimodal import (
        decode_gif,
        synthesize_gif_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = {r["doc_id"]: r for r in decode_gif(synthesize_gif_media(docs)).collect()}
    assert len(out) == 12
    for d, r in out.items():
        w, h = 5 + d % 9, 4 + d % 5
        assert (r["width"], r["height"]) == (w, h)
        idx = [
            (3 * d + 5 * x + 7 * y) % 256
            for y in range(h) for x in range(w)
        ]
        assert abs(r["mean_r"] - round(sum(idx) / len(idx), 6)) < 1e-6
        top = sum(
            i + (i + 11) % 256 + (i + 22) % 256 for i in idx[:w]
        )
        assert r["top_row_sum"] == top
        assert r["n_subblocks"] >= 1


def test_gif_decoder_rejects_unsupported(spark):
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import (
        decode_gif,
        synthesize_gif_media,
    )

    [row] = synthesize_gif_media(
        spark.createDataFrame([(1,)], "doc_id long")
    ).collect()
    buf = bytearray(bytes(row["payload"]))

    def df_of(payload):
        return spark.createDataFrame(
            [(1, bytes(payload))], "doc_id long, payload binary"
        )

    with _pytest.raises(Exception, match="not a GIF"):
        decode_gif(df_of(b"JIF87a" + bytes(20))).collect()
    bad = bytearray(buf)
    bad[13 + 768 + 9] |= 0x40  # set interlace flag in the image descriptor
    with _pytest.raises(Exception, match="interlaced"):
        decode_gif(df_of(bad)).collect()
    # truncating the LZW stream mid-code must fail loudly, not wrap
    cut = buf[: len(buf) // 2]
    with _pytest.raises(Exception):
        decode_gif(df_of(cut)).collect()


def test_lzw_codec_adversarial_roundtrips():
    """The shared LZW pair must roundtrip the shapes that break naive
    implementations: KwKwK self-reference, table-full CLEAR resets,
    full-byte alphabets."""
    from cses2humio_spark.operators.multimodal import _make_lzw_codec

    enc, dec = _make_lzw_codec()
    cases = [
        [1] * 50,                      # immediate KwKwK
        list(range(256)) * 2,
        [5] * 4096 + [7] * 4096,       # forces CLEAR mid-stream
        [0],
    ]
    for c in cases:
        assert dec(enc(c, 8), 8, len(c)) == c


def test_lzw_property_random_roundtrips():
    """Property test: random index streams of varied lengths/alphabets
    roundtrip the LZW pair exactly (fixed seed, includes the streams
    that push code width to 12 bits and through CLEAR resets)."""
    import random

    from cses2humio_spark.operators.multimodal import _make_lzw_codec

    enc, dec = _make_lzw_codec()
    rng = random.Random(7_2026)
    for trial in range(12):
        n = rng.choice([1, 2, 17, 300, 3000, 9000])
        alpha = rng.choice([2, 5, 256])
        seq = [rng.randrange(alpha) for _ in range(n)]
        z = enc(seq, 8)
        assert dec(z, 8, n) == seq, (trial, n, alpha)


def test_pcx_rle_runs_and_rejections(spark):
    """The PCX decoder must expand REAL RLE runs (constant rows give
    rle_ratio > 1), honor the 0xC0 escape for high literals, and refuse
    malformed payloads loudly."""
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import (
        decode_pcx,
        synthesize_pcx_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = {r["doc_id"]: r for r in decode_pcx(synthesize_pcx_media(docs)).collect()}
    assert len(out) == 10
    for d, r in out.items():
        w, h = 5 + d % 9, 4 + d % 5
        assert (r["width"], r["height"]) == (w, h)

        def idx(x, y):
            return (
                (3 * d + 7 * y) % 256 if y % 3 == 2
                else (3 * d + 5 * x + 7 * y) % 256
            )

        vals = [idx(x, y) for y in range(h) for x in range(w)]
        assert abs(r["mean_r"] - round(sum(vals) / len(vals), 6)) < 1e-6
    # docs with a constant row (h >= 3) must show real compression
    assert any(
        r["rle_ratio"] > 1.0 for r in out.values() if r["height"] >= 3
    )

    def df_of(payload):
        return spark.createDataFrame(
            [(1, bytes(payload))], "doc_id long, payload binary"
        )

    with _pytest.raises(Exception, match="not a PCX"):
        decode_pcx(df_of(b"\x00" * 1000)).collect()
    [row] = synthesize_pcx_media(
        spark.createDataFrame([(1,)], "doc_id long")
    ).collect()
    buf = bytearray(bytes(row["payload"]))
    buf[-769] = 0x00  # clobber the palette marker
    with _pytest.raises(Exception, match="palette"):
        decode_pcx(df_of(buf)).collect()


def test_tiff_ifd_walk_and_rejections(spark):
    """The TIFF decoder must honor the inline-vs-offset value rule
    (single-doc images with one strip store StripOffsets INLINE; taller
    ones store the array behind an offset) and refuse non-baseline
    payloads loudly."""
    import struct

    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import (
        decode_tiff,
        synthesize_tiff_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = {r["doc_id"]: r for r in decode_tiff(synthesize_tiff_media(docs)).collect()}
    for d, r in out.items():
        w, h = 5 + d % 9, 4 + d % 5
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_strips"] == (h + 1) // 2  # RowsPerStrip=2
        vals = [
            (3 * d + 5 * x + 7 * y) % 256
            for x in range(w) for y in range(h)
        ]
        assert abs(r["mean_r"] - round(sum(vals) / len(vals), 6)) < 1e-6
    # both storage forms of StripOffsets occur across h=4..8
    assert {r["n_strips"] for r in out.values()} >= {2, 3}

    def df_of(payload):
        return spark.createDataFrame(
            [(1, bytes(payload))], "doc_id long, payload binary"
        )

    with _pytest.raises(Exception, match="not a little-endian TIFF"):
        decode_tiff(df_of(b"MM\x00*" + bytes(16))).collect()
    [row] = synthesize_tiff_media(
        spark.createDataFrame([(1,)], "doc_id long")
    ).collect()
    buf = bytearray(bytes(row["payload"]))
    # flip Compression (tag 259, 4th entry) to LZW=5 -> loud refusal
    ifd_at = struct.unpack_from("<I", buf, 4)[0]
    for i in range(struct.unpack_from("<H", buf, ifd_at)[0]):
        tag = struct.unpack_from("<H", buf, ifd_at + 2 + i * 12)[0]
        if tag == 259:
            struct.pack_into("<H", buf, ifd_at + 2 + i * 12 + 8, 5)
    with _pytest.raises(Exception, match="compressed TIFF"):
        decode_tiff(df_of(buf)).collect()


def test_qoi_ops_exercised_and_rejections(spark):
    """The QOI pair must exercise every op class on the synthesized
    corpus (LUMA from the +5/+7 steps, RUN from constant rows, INDEX
    from revisited colors, RGB on first-of-kind) and refuse malformed
    streams loudly."""
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import (
        _make_qoi_codec,
        decode_qoi,
        synthesize_qoi_media,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    out = {r["doc_id"]: r for r in decode_qoi(synthesize_qoi_media(docs)).collect()}
    for d, r in out.items():
        w, h = 5 + d % 9, 4 + d % 5
        assert (r["width"], r["height"]) == (w, h)
        vals = [
            (3 * d + 5 * (0 if y % 4 == 3 else x) + 7 * y) % 256
            for y in range(h) for x in range(w)
        ]
        assert abs(r["mean_r"] - round(sum(vals) / len(vals), 6)) < 1e-6
    # constant rows compress -> ratio > 1 somewhere
    assert any(r["qoi_ratio"] > 1.0 for r in out.values())
    # op coverage on one payload: every op class present
    [row] = synthesize_qoi_media(
        spark.createDataFrame([(7,)], "doc_id long")
    ).collect()
    buf = bytes(row["payload"])
    ops = set()
    pos = 14
    while pos < len(buf) - 8:
        b1 = buf[pos]
        pos += 1
        if b1 == 0xFE:
            ops.add("rgb"); pos += 3
        elif b1 >> 6 == 0:
            ops.add("index")
        elif b1 >> 6 == 1:
            ops.add("diff")
        elif b1 >> 6 == 2:
            ops.add("luma"); pos += 1
        else:
            ops.add("run")
    assert {"rgb", "luma", "run", "index"} <= ops, ops

    _, qoi_decode = _make_qoi_codec()
    with _pytest.raises(ValueError, match="not a QOI"):
        qoi_decode(b"qoix" + bytes(20))
    with _pytest.raises(ValueError, match="truncated"):
        qoi_decode(buf[: len(buf) // 2])


# -- JPEG (baseline Huffman + DCT) -----------------------------------------


def _direct_idct(blk):
    """Independent O(64^2) reference IDCT (T.81 A.3.3 convention:
    blk[v][u], row = vertical frequency) — deliberately a different
    algorithm than the decoder's separable matrix form, so agreement
    validates Huffman/run-length/zigzag/dequant, not shared code."""
    import math

    def C(u):
        return 1 / math.sqrt(2) if u == 0 else 1.0

    out = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += (
                        C(u) * C(v) * blk[v][u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[y][x] = s / 4.0
    return out


def test_jpeg_ac_coefficient_roundtrip_vs_direct_idct():
    """Random quantized coefficient blocks (DC + scattered ACs — runs,
    ZRL and EOB all occur) through the full encode -> Huffman-decode ->
    dequant -> IDCT pipeline must reproduce the independent direct-IDCT
    pixels EXACTLY, and the 0xFF byte-stuffing path must actually fire
    across the corpus."""
    import random

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    enc, _encc, dec, *_rest = _make_jpeg_codec()
    random.seed(42)
    saw_stuffing = False
    for _ in range(30):
        blocks = []
        for _b in range(2):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = random.randint(-400, 400)
            for _c in range(random.randint(1, 8)):
                u, v = random.randint(0, 7), random.randint(0, 7)
                blk[u][v] = random.randint(-60, 60)
            blocks.append(blk)
        buf = enc(blocks, 16, 8)
        scan = buf[buf.find(b"\xff\xda") + 10 :]
        if b"\xff\x00" in scan:
            saw_stuffing = True
        w, h, px, nb = dec(buf)
        assert (w, h, nb) == (16, 8, 2)
        for bi, blk in enumerate(blocks):
            ref = _direct_idct(blk)
            for y in range(8):
                for x in range(8):
                    want = min(
                        255, max(0, int(math.floor(ref[y][x] + 0.5)) + 128)
                    )
                    assert px[y][bi * 8 + x] == want, (bi, y, x)
    assert saw_stuffing, "no trial exercised 0xFF00 byte stuffing"


def test_jpeg_zrl_and_long_runs():
    """A block whose only AC sits past 16+ zeros forces ZRL emission;
    one with a trailing coefficient at position 63 ends without EOB."""
    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    enc, _encc, dec, *_rest = _make_jpeg_codec()
    zz_last = [[0] * 8 for _ in range(8)]
    zz_last[0][0] = 80
    zz_last[7][7] = 12  # zigzag position 63: encoder must emit ZRLs, no EOB
    mid = [[0] * 8 for _ in range(8)]
    mid[0][0] = -80
    mid[5][0] = -33  # a lone mid-block coefficient after a long run
    for blk in (zz_last, mid):
        w, h, px, nb = dec(enc([blk], 8, 8))
        ref = _direct_idct(blk)
        for y in range(8):
            for x in range(8):
                want = min(
                    255, max(0, int(math.floor(ref[y][x] + 0.5)) + 128)
                )
                assert px[y][x] == want, (y, x)


def test_jpeg_decoder_rejects_unsupported():
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    enc, _encc, dec, *_rest = _make_jpeg_codec()
    blk = [[0] * 8 for _ in range(8)]
    buf = enc([blk], 8, 8)
    with _pytest.raises(ValueError, match="no SOI"):
        dec(b"xx" + buf)
    # flip SOF0 -> SOF1 (extended sequential): must refuse loudly
    # (SOF2/progressive is a SUPPORTED path since round 6)
    i = buf.find(b"\xff\xc0")
    ext = buf[:i] + b"\xff\xc1" + buf[i + 2 :]
    with _pytest.raises(ValueError, match="SOF"):
        dec(ext)
    with _pytest.raises(ValueError, match="truncated|EOI|marker|ran out"):
        dec(buf[:-4])


def test_jpeg_decode_stats_spark_plan_is_arrow_batched(spark):
    """The Spark-side contract: synthesize -> decode is two mapInPandas
    stages over hash-spread blobs; n_blocks rides the decoded output."""
    from cses2humio_spark.operators.multimodal import (
        decode_jpeg,
        repartition_for_media,
        synthesize_jpeg_media,
    )
    from cses2humio_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        "doc_id < 40"
    )
    out = decode_jpeg(repartition_for_media(synthesize_jpeg_media(docs)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 40
    for d, r in rows.items():
        assert r["n_blocks"] == (1 + d % 3) * (1 + d % 2)
        assert r["width"] == 8 * (1 + d % 3)


def test_decode_jpeg_refuses_color_payloads(spark):
    """Round-6 advice: the shared decoder accepts 3-component payloads,
    so a color JPEG fed to the GRAYSCALE stats operator must raise
    loudly instead of silently averaging the flattened RGB planes."""
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import (
        decode_jpeg,
        synthesize_jpeg_color_media,
    )
    from cses2humio_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        "doc_id < 4"
    )
    with _pytest.raises(Exception, match="single-component|decode_jpeg_color"):
        decode_jpeg(synthesize_jpeg_color_media(docs)).collect()


def test_jpeg_color_ac_roundtrip_vs_direct_idct():
    """Random Y/Cb/Cr coefficient blocks through the interleaved color
    pipeline must reproduce the reference: three independent direct
    IDCTs + the T.871 conversion with half-up rounding and clamping.
    Exercises both Huffman table pairs and per-component DC
    prediction."""
    import random

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    _enc, encc, dec, *_rest = _make_jpeg_codec()
    random.seed(7)

    def rand_blocks(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = random.randint(-300, 300)
            for _c in range(random.randint(0, 5)):
                u, v = random.randint(0, 7), random.randint(0, 7)
                blk[u][v] = random.randint(-40, 40)
            out.append(blk)
        return out

    for _ in range(10):
        ys, cbs, crs = rand_blocks(2), rand_blocks(2), rand_blocks(2)
        buf = encc(ys, cbs, crs, 16, 8)
        w, h, px, nm = dec(buf)
        assert (w, h, nm) == (16, 8, 2)
        for bi in range(2):
            ry = _direct_idct(ys[bi])
            rcb = _direct_idct(cbs[bi])
            rcr = _direct_idct(crs[bi])
            for y in range(8):
                for x in range(8):
                    Y = ry[y][x] + 128.0
                    cb = rcb[y][x]
                    cr = rcr[y][x]
                    want = tuple(
                        min(255, max(0, int(math.floor(v + 0.5))))
                        for v in (
                            Y + 1.402 * cr,
                            Y - 0.344136 * cb - 0.714136 * cr,
                            Y + 1.772 * cb,
                        )
                    )
                    assert tuple(px[y][bi * 8 + x]) == want, (bi, y, x)


def test_jpeg_420_roundtrip_and_factor_limits():
    """4:2:0 (Y at 2x2 per MCU, chroma quarter-resolution, nearest-
    neighbor upsample): a 16x16 one-MCU image with four DISTINCT Y
    blocks and AC-bearing chroma must reproduce the reference — four
    direct IDCTs for Y, one per chroma plane replicated 2x2 — and
    sampling factors above 2 refuse loudly."""
    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    _enc, _encc, dec, enc420, *_rest = _make_jpeg_codec()

    def dc_block(dc, extra=()):
        blk = [[0] * 8 for _ in range(8)]
        blk[0][0] = dc
        for u, v, c in extra:
            blk[u][v] = c
        return blk

    ys = [dc_block(8 * k, [(1, 2, 17)]) for k in (-40, -10, 25, 60)]
    cbs = [dc_block(96, [(0, 1, -21)])]
    crs = [dc_block(-64, [(2, 0, 13)])]
    buf = enc420(ys, cbs, crs, 16, 16)
    w, h, px, nm = dec(buf)
    assert (w, h, nm) == (16, 16, 1)
    ry = [_direct_idct(b) for b in ys]
    rcb = _direct_idct(cbs[0])
    rcr = _direct_idct(crs[0])
    for y in range(16):
        for x in range(16):
            bi = (y // 8) * 2 + (x // 8)
            Y = ry[bi][y % 8][x % 8] + 128.0
            cb = rcb[y // 2][x // 2]  # nearest-neighbor upsample
            cr = rcr[y // 2][x // 2]
            want = tuple(
                min(255, max(0, int(math.floor(v + 0.5))))
                for v in (
                    Y + 1.402 * cr,
                    Y - 0.344136 * cb - 0.714136 * cr,
                    Y + 1.772 * cb,
                )
            )
            assert tuple(px[y][x]) == want, (y, x)
    # sampling factors above 2 refuse loudly
    i = buf.find(b"\xff\xc0")
    bad = bytearray(buf)
    bad[i + 4 + 7] = 0x33
    with _pytest.raises(ValueError, match="sampling factors"):
        dec(bytes(bad))


def test_jpeg_progressive_equals_sequential_with_eobrun():
    """The progressive container (DC scan + AC band scan with
    cross-block EOBn runs, custom flat AC table) must decode to pixels
    IDENTICAL to the sequential encoding of the same coefficient blocks
    — including trials where several consecutive DC-only blocks force
    EOBRUN > 1 — and successive approximation refuses loudly."""
    import random

    import pytest as _pytest

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    enc, _encc, dec, _enc420, encp, *_rest = _make_jpeg_codec()
    random.seed(3)
    for _ in range(15):
        blocks = []
        for i in range(6):
            b = [[0] * 8 for _ in range(8)]
            b[0][0] = random.randint(-300, 300)
            if i in (0, 4):  # blocks 1-3 and 5 stay DC-only -> EOBRUN > 1
                for _c in range(random.randint(1, 6)):
                    u, v = random.randint(0, 7), random.randint(0, 7)
                    b[u][v] = random.randint(-50, 50)
            blocks.append(b)
        assert dec(enc(blocks, 48, 8))[2] == dec(encp(blocks, 48, 8))[2]
    buf = encp(blocks, 48, 8)
    # corrupt the AC scan's AhAl byte to an INCONSISTENT refinement
    # (Ah=3, Al=1 — refinements must step one bit): loud refusal
    i = buf.rfind(b"\xff\xda")
    bad = bytearray(buf)
    bad[i + 2 + 2 + 6 - 1] = 0x31
    with _pytest.raises(ValueError, match="Ah == Al"):
        dec(bytes(bad))


def test_jpeg_422_roundtrip():
    """4:2:2 (the broadcast-video layout — chroma halved horizontally
    only, two Y blocks per 16x8 MCU): the generic sampling machinery
    must reproduce the reference (two Y IDCTs + horizontally-replicated
    chroma + conversion) exactly."""
    import random

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    codec = _make_jpeg_codec()
    dec, enc422 = codec[2], codec[5]
    random.seed(11)

    def rb():
        b = [[0] * 8 for _ in range(8)]
        b[0][0] = random.randint(-200, 200)
        b[random.randint(0, 7)][random.randint(0, 7)] = random.randint(-30, 30)
        return b

    ys, cbs, crs = [rb(), rb()], [rb()], [rb()]
    w, h, px, nm = dec(enc422(ys, cbs, crs, 16, 8))
    assert (w, h, nm) == (16, 8, 1)
    ry = [_direct_idct(b) for b in ys]
    rcb, rcr = _direct_idct(cbs[0]), _direct_idct(crs[0])
    for y in range(8):
        for x in range(16):
            Y = ry[x // 8][y][x % 8] + 128.0
            cb = rcb[y][x // 2]  # horizontal-only upsample
            cr = rcr[y][x // 2]
            want = tuple(
                min(255, max(0, int(math.floor(v + 0.5))))
                for v in (
                    Y + 1.402 * cr,
                    Y - 0.344136 * cb - 0.714136 * cr,
                    Y + 1.772 * cb,
                )
            )
            assert tuple(px[y][x]) == want, (y, x)


def test_jpeg_successive_approximation_equals_sequential():
    """Full progressive successive approximation (DC and AC sent at
    Al=1, refined to Al=0 in the jcphuff discipline: zero-history runs,
    buffered correction bits after each symbol, EOBn-attached
    corrections for covered blocks, refinement EOB = last NEWLY
    significant index) must reproduce the sequential decode exactly —
    across random blocks mixing |c|=1 newly-significant-at-refinement
    coefficients, larger corrected coefficients and EOBRUN paths."""
    import random

    from cses2humio_spark.operators.multimodal import _make_jpeg_codec

    codec = _make_jpeg_codec()
    enc, dec, encsa = codec[0], codec[2], codec[6]
    random.seed(99)
    for _ in range(25):
        blocks = []
        for i in range(6):
            b = [[0] * 8 for _ in range(8)]
            b[0][0] = random.randint(-300, 300)
            if i % 3 != 2:  # every third block DC-only -> EOBRUN paths
                for _c in range(random.randint(1, 7)):
                    u, v = random.randint(0, 7), random.randint(0, 7)
                    b[u][v] = random.randint(-60, 60)
            if i == 1:
                b[5][5] = 1  # guaranteed newly-significant at refinement
                b[6][6] = -1
            blocks.append(b)
        assert dec(enc(blocks, 48, 8))[2] == dec(encsa(blocks, 48, 8))[2]
    # malformed refinement: size > 1 symbols refuse loudly
    import pytest as _pytest

    buf = encsa(blocks, 48, 8)
    with _pytest.raises(ValueError):
        dec(buf[: len(buf) // 2])  # truncated mid-scan


def test_mjpeg_avi_frames_equal_still_image_decoder(spark):
    """The r6 verdict's frame-equality pin: frame 0 of every AVI (the
    f=0 term drops out of the block formula) must decode to EXACTLY the
    stats decode_jpeg produces for the standalone still image of the
    same doc — same encoder, same decoder core, one wrapped in RIFF."""
    from cses2humio_spark.operators.multimodal import (
        decode_avi_mjpeg,
        decode_jpeg,
        synthesize_avi_mjpeg_media,
        synthesize_jpeg_media,
    )
    from cses2humio_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 30)
    via_avi = {
        r.doc_id: (r.width, r.height, r.mean_px, r.top_row_sum)
        for r in decode_avi_mjpeg(synthesize_avi_mjpeg_media(docs), every_k=1)
        .filter(F.col("frame_idx") == 0).collect()
    }
    via_still = {
        r.doc_id: (r.width, r.height, r.mean_px, r.top_row_sum)
        for r in decode_jpeg(synthesize_jpeg_media(docs)).collect()
    }
    assert via_avi == via_still
    # and the sampler really walks every frame at every_k=1
    all_rows = decode_avi_mjpeg(
        synthesize_avi_mjpeg_media(docs), every_k=1
    ).collect()
    per_doc = {}
    for r in all_rows:
        per_doc.setdefault(r.doc_id, set()).add(r.frame_idx)
    for d, frames in per_doc.items():
        assert frames == set(range(3 + d % 4)), (d, frames)


def test_mjpeg_avi_rejects_broken_containers(spark):
    """The RIFF walker must raise loudly, not skip: bad magic, an idx1
    that disagrees with the movi chunks, and an avih frame count that
    disagrees with the chunks actually present."""
    import struct

    import pytest

    from cses2humio_spark.operators.multimodal import (
        decode_avi_mjpeg,
        synthesize_avi_mjpeg_media,
    )

    base = spark.range(0, 1).withColumnRenamed("id", "doc_id")
    (payload,) = [
        bytes(r.payload) for r in synthesize_avi_mjpeg_media(base).collect()
    ]

    def as_df(buf: bytes):
        return spark.createDataFrame(
            [(1, bytearray(buf))], "doc_id bigint, payload binary"
        )

    with pytest.raises(Exception, match="RIFF/AVI"):
        decode_avi_mjpeg(as_df(b"JUNK" + payload[4:]), every_k=1).collect()

    # flip one idx1 size field (idx1 is the trailing chunk)
    at = payload.rindex(b"idx1")
    broken = bytearray(payload)
    (old_size,) = struct.unpack_from("<I", broken, at + 8 + 12)
    struct.pack_into("<I", broken, at + 8 + 12, old_size + 1)
    with pytest.raises(Exception, match="idx1"):
        decode_avi_mjpeg(as_df(bytes(broken)), every_k=1).collect()

    # lie about the frame count in avih (dwTotalFrames is field 5)
    hat = payload.index(b"avih")
    lied = bytearray(payload)
    struct.pack_into("<I", lied, hat + 8 + 16, 99)
    with pytest.raises(Exception, match="frames"):
        decode_avi_mjpeg(as_df(bytes(lied)), every_k=1).collect()


def test_avi_av_demux_rejects_deinterleaved_and_wrong_audio(spark):
    """The two-stream walker must enforce the muxer layout: chunks that
    are not strictly video/audio interleaved raise, and a non-PCM16
    audio strf raises."""
    import struct

    import pytest

    from cses2humio_spark.operators.multimodal import (
        demux_avi_av,
        synthesize_avi_av_media,
    )

    base = spark.range(0, 1).withColumnRenamed("id", "doc_id")
    (payload,) = [
        bytes(r.payload) for r in synthesize_avi_av_media(base).collect()
    ]

    def as_df(buf: bytes):
        return spark.createDataFrame(
            [(1, bytearray(buf))], "doc_id bigint, payload binary"
        )

    # sanity: the untouched container demuxes
    row = demux_avi_av(as_df(payload)).collect()[0]
    assert row.n_frames == 3 and row.sample_rate == 16000

    # de-interleave: relabel the first audio chunk as video ('00dc') —
    # same sizes, same idx1 patch, but the stream order breaks
    broken = bytearray(payload)
    at = broken.index(b"01wb")
    broken[at : at + 4] = b"00dc"
    iat = broken.rindex(b"idx1")
    # idx1 entry 1 (the first audio chunk) starts 16 bytes into the body
    broken[iat + 8 + 16 : iat + 8 + 20] = b"00dc"
    with pytest.raises(Exception, match="interleav|counts"):
        demux_avi_av(as_df(bytes(broken))).collect()

    # audio strf claiming 8-bit samples must be refused
    lied = bytearray(payload)
    # second strf in the header tree is the audio WAVEFORMATEX
    first_strf = lied.index(b"strf")
    astrf = lied.index(b"strf", first_strf + 4)
    struct.pack_into("<H", lied, astrf + 8 + 14, 8)  # wBitsPerSample
    with pytest.raises(Exception, match="PCM16"):
        demux_avi_av(as_df(bytes(lied))).collect()


def test_worker_closures_ship_by_value(spark, monkeypatch, tmp_path):
    """Python workers cannot import this package when the application
    starts from another directory, so every function a media operator
    hands to mapInPandas must pickle BY VALUE. Record each one, pickle it
    the way PySpark ships it, and load it in a fresh interpreter where
    the package is unimportable. A module-level def is the negative control:
    cloudpickle ships it by reference, so its load must fail there."""
    import inspect
    import pickle
    import subprocess
    import sys

    from pyspark.serializers import CloudPickleSerializer
    from pyspark.sql.classic.dataframe import DataFrame

    import cses2humio_spark.operators.multimodal as mm

    captured = []
    delegate = DataFrame.mapInPandas

    def recording(self, func, schema, *args, **kwargs):
        captured.append(func)
        return delegate(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInPandas", recording)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    media = mm.synthesize_media(docs)
    operators = [
        fn for name, fn in vars(mm).items()
        if inspect.isfunction(fn) and fn.__module__ == mm.__name__
        and not name.startswith("_") and fn.__qualname__ == name
    ]
    pure_sql = {"synthesize_media", "repartition_for_media", "frame_sample"}
    shipped = []
    for fn in operators:
        before = len(captured)
        fn(docs if fn.__name__.startswith("synthesize_") else media)
        expected = 0 if fn.__name__ in pure_sql else 1
        assert len(captured) - before == expected, fn.__name__
        shipped += [(fn.__name__, f) for f in captured[before:]]
    assert len(shipped) == len(operators) - len(pure_sql)

    ser = CloudPickleSerializer()
    blobs = [(name, ser.dumps(f)) for name, f in shipped]
    blobs.append(("control", ser.dumps(mm._synthesize)))
    (tmp_path / "closures.pkl").write_bytes(pickle.dumps(blobs))
    loader = (
        "import pickle, sys\n"
        "sys.modules['cses2humio_spark'] = None\n"
        "for name, blob in pickle.load(open('closures.pkl', 'rb')):\n"
        "    try:\n"
        "        pickle.loads(blob)\n"
        "        print('OK', name)\n"
        "    except Exception as e:\n"
        "        print('FAIL', name, type(e).__name__, e)\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", loader], cwd=tmp_path,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    lines = res.stdout.splitlines()
    assert lines[-1].startswith("FAIL control ModuleNotFoundError"), lines[-1]
    failed = [ln for ln in lines[:-1] if not ln.startswith("OK ")]
    assert not failed and len(lines) == len(blobs), failed
