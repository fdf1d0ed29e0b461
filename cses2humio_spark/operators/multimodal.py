"""Multimodal columns (SURVEY.md §2.2): image/audio/video as opaque
``binary`` payloads with typed metadata, processed via Arrow-batched
``mapInPandas``.

Every format below is decoded for real from its bytes, with numpy and the
standard library only: PPM/PGM, BMP, TGA, PNG (zlib), GIF (LZW), PCX
(RLE), TIFF, QOI, JPEG (baseline, color, 4:2:0/4:2:2, progressive,
successive approximation), PCM16 WAV, and RIFF/AVI Motion-JPEG with an
interleaved PCM audio track. Each synthesizer writes valid files from a
closed-form formula, so the DuckDB oracles restate the decoded statistics
from the formula without touching bytes. ``decode_media``/``resize_media``
are generic byte-level plumbing over ``synthesize_media``'s UTF-8 payloads.
Inter-frame video codecs (H.264, VP9) are not implemented.

One harness per direction holds the only two ``mapInPandas`` bodies:
``_synthesize(docs, encode)`` calls a per-document ``encode(doc_id) ->
bytes`` and ``_decode(media, decode, schema)`` a per-payload ``decode(
doc_id, buf)``. A format supplies only its byte parsing or encoding and
its validation; malformed payloads raise (a corrupt blob is a data bug,
not a row to drop silently).

Shipping rule: Python workers cannot import ``cses2humio_spark`` (a
Spark application may start from any directory), so everything a worker
runs must be pickled BY VALUE — a nested def, or a closure returned by a
``_make_*`` factory. A plain module-level def called from a worker
closure is pickled by reference and fails on the worker with
``ModuleNotFoundError``.
Modules (numpy, struct, zlib) are re-imported on the worker and are safe
to reference. ``tests/test_multimodal.py`` loads every worker closure with
the package made unimportable.

Scale notes:
- Payloads are the widest column by far; ``repartition_for_media`` spreads
  blobs by id hash BEFORE the Python stage so Arrow batches are balanced
  and no executor sees a skewed byte volume.
- ``mapInPandas`` streams Arrow record batches through Python — memory is
  bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``, not by
  partition size, so 100 MB videos don't need 100 MB × rows-per-partition
  of executor heap.
"""

from __future__ import annotations

import struct
import zlib
from collections import namedtuple
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructType

MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, payload binary, "
    "meta struct<n_bytes: bigint, codec: string, duration_ms: bigint>"
)

FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, n_chars bigint, "
    "first_code bigint, char_checksum bigint"
)


def _synthesize(docs: DataFrame, encode) -> DataFrame:
    """(doc_id, payload binary): ``encode(doc_id) -> bytes`` for every
    document of ``docs`` — the one synthesizer ``mapInPandas`` body."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(_gen, "doc_id bigint, payload binary")


def _decode(media: DataFrame, decode, schema: str) -> DataFrame:
    """``schema``'s columns from ``decode(doc_id, buf)`` over every
    (doc_id, payload) of ``media`` — the one decoder ``mapInPandas`` body.

    ``decode`` returns one row dict, or a list of them (one per frame). A
    row's ``pixels`` entry, an (h, w) or (h, w, 3) integer array in image
    order (top row first, RGB), becomes the standard image statistics the
    schema names: ``mean_r``/``mean_g``/``mean_b`` (one-channel images:
    ``mean_px`` or ``mean_gray``), ``top_row_sum`` (the top row's byte sum,
    which catches a forgotten row flip — means alone are flip-invariant)
    and ``byte_checksum`` (all pixel bytes, mod 1e9). Schema columns a row
    does not set pass through from ``media`` (``doc_id``, ``media_type``).

    Every ``double`` column is rounded to 6 places here, in SQL: ``ROUND``
    rounds half-up like DuckDB's, which every oracle pins, while Python's
    ``round()`` rounds half-to-even."""
    fields = StructType.fromDDL(schema).fields
    names = [f.name for f in fields]
    carried = [c for c in names if c in media.columns and c != "payload"]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def image_stats(pixels) -> dict:
            img = np.asarray(pixels, dtype=np.int64)
            stats = {
                "top_row_sum": int(img[0].sum()),
                "byte_checksum": int(img.sum()) % 10**9,
            }
            if img.ndim == 3:
                for c, name in enumerate(("mean_r", "mean_g", "mean_b")):
                    stats[name] = float(img[:, :, c].mean())
            else:
                stats["mean_px"] = stats["mean_gray"] = float(img.mean())
            return stats

        for pdf in batches:
            rows = []
            for i, (d, b) in enumerate(zip(pdf["doc_id"], pdf["payload"])):
                got = decode(int(d), bytes(b))
                for row in [got] if isinstance(got, dict) else got:
                    if "pixels" in row:
                        row.update(image_stats(row.pop("pixels")))
                    for c in carried:
                        if c not in row:
                            row[c] = pdf[c].iat[i]
                    rows.append(row)
            yield pd.DataFrame(rows, columns=names)

    out = media.mapInPandas(_run, schema)
    return out.select(*[
        F.round(f.name, 6).alias(f.name)
        if isinstance(f.dataType, DoubleType) else f.name
        for f in fields
    ])


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media over the documents table: payload =
    UTF-8 bytes of the text (the opaque-binary stand-in), media type
    assigned round-robin, metadata derived from the payload."""
    payload = F.encode(F.col("text"), "UTF-8")
    media_type = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        "doc_id",
        media_type.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.lit("fake/v1").alias("codec"),
            (F.length(payload) * 10).cast("bigint").alias("duration_ms"),
        ).alias("meta"),
    )


def repartition_for_media(df: DataFrame, n: int | None = None) -> DataFrame:
    """Hash-spread blobs before the Python stage (see module docstring)."""
    return df.repartition(n, "doc_id") if n else df.repartition("doc_id")


def decode_media(df: DataFrame) -> DataFrame:
    """Byte-level features of ``synthesize_media`` payloads (UTF-8 text
    standing in for an opaque blob): byte and character counts, first
    code point, code-point checksum mod 997."""

    def decode(_d, buf):
        text = buf.decode("utf-8")
        return {
            "n_bytes": len(buf),
            "n_chars": len(text),
            "first_code": ord(text[0]) if text else -1,
            "char_checksum": sum(ord(c) for c in text) % 997,
        }

    return _decode(df, decode, FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Video frame-sampling stand-in: emit one row per sampled "frame"
    (byte offset) via posexplode over a computed offset array — the real
    implementation would decode frames at these offsets. Demonstrates the
    1-row -> N-rows media expansion shape (UDTF-like) without Python."""
    offsets = F.sequence(
        F.lit(0), F.greatest(F.col("meta.n_bytes") - 1, F.lit(0)), F.lit(every_n_bytes)
    )
    return df.select(
        "doc_id",
        "media_type",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


RESIZED_SCHEMA = (
    "doc_id bigint, media_type string, payload binary, "
    "meta struct<n_bytes: bigint, codec: string, scale: bigint>"
)


def resize_media(df: DataFrame, factor: int = 4) -> DataFrame:
    """Resize/downsample stand-in via mapInPandas: keep every ``factor``-th
    byte of the payload (where a real implementation calls PIL
    ``Image.resize`` / audio resampling). Binary in -> binary out, so the
    result is again a media column that downstream stages (decode,
    frame-sample, storage) consume unchanged — the composability that makes
    media transforms pipeline stages rather than terminal steps. Arrow
    moves the bytes; Python touches each blob once per batch."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    def decode(_d, buf):
        resized = buf[::factor]
        meta = {"n_bytes": len(resized), "codec": "fake/v1", "scale": factor}
        return {"payload": resized, "meta": meta}

    return _decode(df, decode, RESIZED_SCHEMA)


# ---- closed-form test content shared by the synthesizers ------------------


def _make_test_patterns():
    """Factory for the synthesizers' closed-form content (shipped by value,
    see the module docstring)."""

    def test_image(d, w, h):
        """(h, w, 3) uint8 test image of document ``d``: channel 0 at
        (x, y), y = 0 the top row, is (3*d + 5*x + 7*y) % 256; channels 1
        and 2 add 11 and 22 (mod 256)."""
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        base = 3 * d + 5 * x + 7 * y
        return np.stack(
            [base % 256, (base + 11) % 256, (base + 22) % 256], axis=2
        ).astype(np.uint8)

    def dc_block(v):
        """Quantized 8x8 JPEG block whose IDCT is the constant ``v``: a
        constant block is DC-only (DC = 8*(v-128), integral), which keeps
        the lossy codec exact under all-ones quant tables."""
        blk = [[0] * 8 for _ in range(8)]
        blk[0][0] = 8 * (v - 128)
        return blk

    def gray_blocks(d, f=0):
        """(blocks, w, h) of gray JPEG frame ``f`` of document ``d``: block
        (bx, by) is constant (3*d + 17*bx + 29*by + 41*f) % 256, w =
        8*(1 + d mod 3), h = 8*(1 + d mod 2)."""
        bw, bh = 1 + d % 3, 1 + d % 2
        blocks = [
            dc_block((3 * d + 17 * bx + 29 * by + 41 * f) % 256)
            for by in range(bh)
            for bx in range(bw)
        ]
        return blocks, bw * 8, bh * 8

    def pcm16(d, start, n):
        """PCM16-LE bytes of samples j in [start, start + n) of document
        ``d``: ((31*d + 17*j) mod 65536) - 32768."""
        j = np.arange(start, start + n, dtype=np.int64)
        return (((31 * d + 17 * j) % 65536) - 32768).astype("<i2").tobytes()

    return test_image, dc_block, gray_blocks, pcm16


_test_image, _dc_block, _gray_blocks, _pcm16 = _make_test_patterns()

# palette[i] = (i, i+11, i+22) mod 256: indexing it with channel 0 of
# _test_image reproduces the whole test image
_TEST_PALETTE = b"".join(bytes((i, (i + 11) % 256, (i + 22) % 256)) for i in range(256))


# ---- PNM, WAV and the VID0 container --------------------------------------
#
# PPM (P6), PGM (P5) and PCM WAV are header + raw sample array; VID0 is a
# toy container of concatenated P6 frames.

PPM_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "mean_r double, mean_g double, mean_b double, byte_checksum bigint"
)

WAV_FEATURES_SCHEMA = (
    "doc_id bigint, sample_rate bigint, n_samples bigint, rms double"
)


def synthesize_ppm_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a valid P6 PPM per document — ASCII
    header (with a comment line, exercising the parser) + w*h*3 pixel
    bytes, byte j = (7*doc_id + 13*j) mod 256."""

    def encode(d):
        w, h = 8 + d % 8, 6 + d % 5
        j = np.arange(w * h * 3, dtype=np.int64)
        px = ((7 * d + 13 * j) % 256).astype(np.uint8)
        return f"P6\n# synth doc {d}\n{w} {h}\n255\n".encode() + px.tobytes()

    return _synthesize(docs, encode)


def _make_ppm_header_parser():
    """Factory for the bounded PNM header parser.

    The parser is produced by a factory (instead of a plain module-level
    def) so cloudpickle serializes it BY VALUE into UDF closures: the
    driver contract runs from an arbitrary cwd, and Python workers cannot
    import ``cses2humio_spark`` there — every symbol a mapInPandas closure
    captures must be self-contained (the package-wide UDF convention)."""

    def parse_ppm_header(buf: bytes, magic: bytes = b"P6") -> tuple[int, int, int, int]:
        """Bounded parse of a binary-PNM ASCII header (magic, comment
        lines, whitespace-separated dims + maxval). Returns (w, h, maxval,
        data_offset). Every scan loop is bounded by len(buf), so a
        truncated payload raises instead of spinning an executor task
        forever."""
        if buf[: len(magic)] != magic:
            raise ValueError(f"not a {magic.decode()} PNM")
        fields, pos = [], len(magic)
        while len(fields) < 3:
            while pos < len(buf) and buf[pos : pos + 1].isspace():
                pos += 1
            if pos >= len(buf):
                raise ValueError("truncated PNM header")
            if buf[pos : pos + 1] == b"#":
                while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(buf) and not buf[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(buf[start:pos]))
        return fields[0], fields[1], fields[2], pos + 1  # w, h, maxval, data

    return parse_ppm_header


parse_ppm_header = _make_ppm_header_parser()


def decode_ppm(media: DataFrame) -> DataFrame:
    """REAL P6 decode via mapInPandas: parse the ASCII header (magic,
    comment lines, dims, maxval), validate payload length, reshape to
    (h, w, 3), emit per-channel means + a byte checksum."""

    def decode(_d, buf):
        w, h, maxval, data_at = parse_ppm_header(buf)
        if maxval != 255:
            raise ValueError(f"unsupported maxval {maxval}")
        px = np.frombuffer(buf, dtype=np.uint8, offset=data_at)
        if px.size != w * h * 3:
            raise ValueError(f"payload holds {px.size} bytes, header says {w*h*3}")
        return {"width": w, "height": h, "pixels": px.reshape(h, w, 3)}

    return _decode(media, decode, PPM_FEATURES_SCHEMA)


def resize_ppm(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL nearest-neighbor downsample: decode, stride-sample rows and
    columns by ``factor``, re-encode as P6. Binary in -> binary out, so
    the result feeds decode_ppm unchanged (composability)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    def decode(_d, buf):
        w, h, _maxval, data_at = parse_ppm_header(buf)
        px = np.frombuffer(buf, dtype=np.uint8, offset=data_at)
        img = px.reshape(h, w, 3)[::factor, ::factor, :]
        nh, nw = img.shape[0], img.shape[1]
        return {"payload": f"P6\n{nw} {nh}\n255\n".encode() + img.tobytes()}

    return _decode(media, decode, "doc_id bigint, payload binary")


PGM_FEATURES_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "mean_gray double, byte_checksum bigint"
)


def synthesize_pgm_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a valid P5 (binary graymap) PGM per
    document — ASCII header (with a comment line) + w*h gray bytes,
    byte j = (11*doc_id + 23*j) mod 256, w = 12 + doc_id mod 7,
    h = 5 + doc_id mod 6."""

    def encode(d):
        w, h = 12 + d % 7, 5 + d % 6
        j = np.arange(w * h, dtype=np.int64)
        px = ((11 * d + 23 * j) % 256).astype(np.uint8)
        return f"P5\n# synth gray doc {d}\n{w} {h}\n255\n".encode() + px.tobytes()

    return _synthesize(docs, encode)


def decode_pgm(media: DataFrame) -> DataFrame:
    """REAL P5 PGM decode via mapInPandas — the single-channel sibling of
    ``decode_ppm``, sharing the bounded PNM header parser (magic=P5).
    Emits gray mean + byte checksum."""

    def decode(_d, buf):
        w, h, maxval, data_at = parse_ppm_header(buf, magic=b"P5")
        if maxval != 255:
            raise ValueError(f"unsupported maxval {maxval}")
        px = np.frombuffer(buf, dtype=np.uint8, offset=data_at)
        if px.size != w * h:
            raise ValueError(f"payload holds {px.size} bytes, header says {w*h}")
        return {"width": w, "height": h, "pixels": px.reshape(h, w)}

    return _decode(media, decode, PGM_FEATURES_SCHEMA)


def synthesize_wav_media(docs: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """(doc_id, payload binary): canonical 44-byte PCM16-mono RIFF/WAV
    header + n samples, n = 400 + doc_id mod 100, sample i =
    ((31*doc_id + 17*i) mod 65536) - 32768."""

    def encode(d):
        n = 400 + d % 100
        data_len = n * 2
        return (
            b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                    sample_rate * 2, 2, 16)
            + b"data" + struct.pack("<I", data_len)
            + _pcm16(d, 0, n)
        )

    return _synthesize(docs, encode)


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL RIFF/WAV decode: validate chunk magics, read fmt (PCM16 mono
    only), frombuffer the sample array, emit rate + count + RMS."""

    def decode(_d, buf):
        if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE" or buf[12:16] != b"fmt ":
            raise ValueError("not a RIFF/WAVE PCM file")
        fmt_len, audio_fmt, channels, rate = struct.unpack("<IHHI", buf[16:28])
        bits = struct.unpack("<H", buf[34:36])[0]
        if (fmt_len, audio_fmt, channels, bits) != (16, 1, 1, 16):
            raise ValueError("only canonical PCM16 mono supported")
        if buf[36:40] != b"data":
            raise ValueError("missing data chunk")
        data_len = struct.unpack("<I", buf[40:44])[0]
        s = np.frombuffer(buf, dtype="<i2", offset=44, count=data_len // 2)
        return {
            "sample_rate": int(rate),
            "n_samples": int(s.size),
            "rms": float(np.sqrt((s.astype(np.float64) ** 2).mean())),
        }

    return _decode(media, decode, WAV_FEATURES_SCHEMA)


VIDEO_MAGIC = b"VID0"

FRAME_STATS_SCHEMA = (
    "doc_id bigint, frame_idx bigint, width bigint, height bigint, "
    "mean_r double"
)


def synthesize_video_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a toy video container — magic 'VID0',
    uint32-LE frame count, then n concatenated P6 frames of identical
    dims (from doc_id). Frame f, byte j = (7*doc_id + 13*j + 101*f) % 256,
    n_frames = 4 + doc_id % 5."""

    def encode(d):
        w, h = 8 + d % 8, 6 + d % 5
        n_frames = 4 + d % 5
        header = f"P6\n{w} {h}\n255\n".encode()
        j = np.arange(w * h * 3, dtype=np.int64)
        frames = b"".join(
            header + ((7 * d + 13 * j + 101 * f) % 256).astype(np.uint8).tobytes()
            for f in range(n_frames)
        )
        return VIDEO_MAGIC + struct.pack("<I", n_frames) + frames

    return _synthesize(docs, encode)


def sample_video_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL frame extraction: parse the container (magic + count), parse
    the FIRST frame's P6 header to learn the fixed frame size, slice every
    ``every_k``-th frame by byte offset, and decode each sampled frame's
    mean-red — the 1-row -> N-rows media expansion with actual bytes, not
    the posexplode stand-in of ``frame_sample``."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def decode(_d, buf):
        if buf[:4] != VIDEO_MAGIC:
            raise ValueError("not a VID0 container")
        n_frames = struct.unpack("<I", buf[4:8])[0]
        # first frame header: P6\n{w} {h}\n255\n (fixed per doc)
        hdr_end = buf.index(b"255\n", 8) + 4
        w, h = (int(x) for x in buf[11 : buf.index(b"\n", 11)].split())
        frame_size = (hdr_end - 8) + w * h * 3
        if len(buf) != 8 + n_frames * frame_size:
            raise ValueError("container length mismatch")
        frames = []
        for f in range(0, n_frames, every_k):
            off = 8 + f * frame_size + (hdr_end - 8)
            px = np.frombuffer(buf, dtype=np.uint8, offset=off, count=w * h * 3)
            frames.append({
                "frame_idx": f, "width": w, "height": h,
                "pixels": px.reshape(h, w, 3),
            })
        return frames

    return _decode(media, decode, FRAME_STATS_SCHEMA)


# ---- uncompressed raster containers: BMP, TGA, TIFF -----------------------

BMP_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, "
    "mean_r double, mean_g double, mean_b double, "
    "top_row_sum bigint, byte_checksum bigint"
)


def synthesize_bmp_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a valid uncompressed 24-bpp Windows BMP
    per document (BITMAPFILEHEADER + BITMAPINFOHEADER, little-endian,
    rows stored BOTTOM-UP and padded to 4-byte boundaries, pixels BGR).
    The pixels are ``_test_image`` in B, G, R order (B = (3*doc_id + 5*x
    + 7*y) mod 256, G = +11, R = +22) — three structurally different
    quirks (row flip, stride padding, channel order) a decoder must get
    right vs the PNM family.
    w = 5 + doc_id mod 9 (w*3 usually not 4-aligned), h = 4 + doc_id mod 5.
    """

    def encode(d):
        w, h = 5 + d % 9, 4 + d % 5
        img = _test_image(d, w, h)  # image-space rows, BGR channel order
        stride = (w * 3 + 3) // 4 * 4
        pad = b"\x00" * (stride - w * 3)
        body = b"".join(img[r].tobytes() + pad for r in range(h - 1, -1, -1))
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
        )
        file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + stride * h, 0, 0, 54)
        return file_hdr + info + body

    return _synthesize(docs, encode)


def decode_bmp(media: DataFrame) -> DataFrame:
    """REAL BMP decode via mapInPandas: little-endian header fields, data
    offset, 24-bpp uncompressed check, then per-row un-flip (bottom-up →
    image order), stride-padding strip, and BGR→RGB swap. Emits the
    standard image stats (the pixel checksum excludes padding)."""

    def decode(_d, buf):
        if buf[:2] != b"BM" or len(buf) < 54:
            raise ValueError("not a BMP")
        (data_at,) = struct.unpack_from("<I", buf, 10)
        hdr_size, w, h, _planes, bpp, compression = struct.unpack_from(
            "<IiiHHI", buf, 14
        )
        if hdr_size != 40 or bpp != 24 or compression != 0:
            raise ValueError(
                f"unsupported BMP (hdr={hdr_size}, bpp={bpp}, "
                f"compression={compression})"
            )
        if h <= 0 or w <= 0:
            raise ValueError("top-down/degenerate BMP unsupported")
        stride = (w * 3 + 3) // 4 * 4
        if len(buf) < data_at + stride * h:
            raise ValueError("truncated BMP pixel array")
        img = np.zeros((h, w, 3), dtype=np.uint8)
        for r in range(h):
            raw = np.frombuffer(
                buf, dtype=np.uint8, count=w * 3, offset=data_at + r * stride
            ).reshape(w, 3)
            img[h - 1 - r] = raw[:, ::-1]  # BGR -> RGB, un-flip rows
        return {"width": w, "height": h, "pixels": img}

    return _decode(media, decode, BMP_FEATURES_SCHEMA)


TGA_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, top_down int, id_len int, "
    "mean_r double, mean_g double, mean_b double, "
    "top_row_sum bigint, byte_checksum bigint"
)


def synthesize_tga_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a valid uncompressed 24-bpp Targa (TGA,
    image type 2) per document. TGA's quirks differ from BMP's: the
    18-byte header is little-endian with a VARIABLE-length image-ID field
    the decoder must skip (here ``sgraft-<id>`` when doc_id % 3 == 0,
    absent otherwise), the row origin is CONDITIONAL (descriptor bit 5:
    top-down when doc_id is even, bottom-up otherwise — a per-file flip,
    not BMP's constant one), pixels are BGR with NO stride padding.
    The pixels are ``_test_image`` in B, G, R order, as in BMP.
    w = 4 + doc_id % 7, h = 3 + doc_id % 6.
    """

    def encode(d):
        w, h = 4 + d % 7, 3 + d % 6
        img = _test_image(d, w, h)  # image-space rows, BGR channel order
        ident = f"sgraft-{d}".encode() if d % 3 == 0 else b""
        top_down = d % 2 == 0
        hdr = struct.pack(
            "<BBBHHBHHHHBB",
            len(ident), 0, 2,  # idlength, no colormap, type 2
            0, 0, 0,           # colormap spec
            0, 0, w, h, 24, 0x20 if top_down else 0x00,
        )
        return hdr + ident + (img if top_down else img[::-1]).tobytes()

    return _synthesize(docs, encode)


def decode_tga(media: DataFrame) -> DataFrame:
    """REAL TGA decode via mapInPandas: parse the 18-byte little-endian
    header, SKIP the variable image-ID field, honor descriptor bit 5 (the
    per-file top-down/bottom-up origin — a decoder that assumes one
    orientation fails half the corpus on the flip-sensitive top-row sum),
    and swap BGR→RGB. Only uncompressed true-color (type 2, 24 bpp) is
    supported; anything else raises."""

    def decode(_d, buf):
        if len(buf) < 18:
            raise ValueError("not a TGA (short header)")
        (
            id_len, cmap_type, img_type,
            _cm_first, _cm_len, _cm_bpp,
            _x0, _y0, w, h, bpp, desc,
        ) = struct.unpack_from("<BBBHHBHHHHBB", buf, 0)
        if img_type != 2 or cmap_type != 0 or bpp != 24:
            raise ValueError(f"unsupported TGA (type={img_type}, bpp={bpp})")
        data_at = 18 + id_len
        if len(buf) < data_at + w * h * 3:
            raise ValueError("truncated TGA pixel data")
        raw = np.frombuffer(
            buf, dtype=np.uint8, count=w * h * 3, offset=data_at
        ).reshape(h, w, 3)
        top_down = bool(desc & 0x20)
        return {
            "width": int(w), "height": int(h),
            "top_down": int(top_down), "id_len": int(id_len),
            "pixels": (raw if top_down else raw[::-1])[:, :, ::-1],  # ->RGB
        }

    return _decode(media, decode, TGA_FEATURES_SCHEMA)


TIFF_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_strips int, mean_r double, "
    "mean_g double, mean_b double, top_row_sum bigint, byte_checksum bigint"
)


def synthesize_tiff_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID little-endian baseline TIFF per
    document — 'II*\\0' header, one IFD with the required baseline tags
    (width/length, BitsPerSample 8,8,8 stored BY OFFSET, Compression=1,
    Photometric=RGB, SamplesPerPixel=3, RowsPerStrip=2 so images split
    into MULTIPLE strips with per-strip offsets/bytecounts arrays), and
    uncompressed RGB strip data: ``_test_image`` in R, G, B order (R =
    (3*doc_id + 5*x + 7*y) % 256, G = +11, B = +22).
    Short-count tag values that fit 4 bytes are stored INLINE — the
    TIFF subtlety a decoder must honor both ways."""

    def entry(tag, typ, count, value):
        return struct.pack("<HHI4s", tag, typ, count, value)

    def inline_short(v):
        return struct.pack("<HH", v, 0)

    def inline_long(v):
        return struct.pack("<I", v)

    def encode(d):
        w, h = 5 + d % 9, 4 + d % 5
        img = _test_image(d, w, h)
        rows_per_strip = 2
        strips = [
            img[r : r + rows_per_strip].tobytes()
            for r in range(0, h, rows_per_strip)
        ]
        n_strips = len(strips)
        # layout: header(8) | IFD | bits-array | offsets | counts | strips
        n_tags = 9
        ifd_at = 8
        ifd_size = 2 + n_tags * 12 + 4
        bits_at = ifd_at + ifd_size
        soff_at = bits_at + 6
        scnt_at = soff_at + 4 * n_strips
        data_at = scnt_at + 4 * n_strips
        strip_offsets = []
        pos = data_at
        for s in strips:
            strip_offsets.append(pos)
            pos += len(s)
        entries = [
            entry(256, 3, 1, inline_short(w)),       # ImageWidth
            entry(257, 3, 1, inline_short(h)),       # ImageLength
            entry(258, 3, 3, inline_long(bits_at)),  # BitsPerSample -> offset
            entry(259, 3, 1, inline_short(1)),       # Compression: none
            entry(262, 3, 1, inline_short(2)),       # Photometric: RGB
            entry(
                273, 4, n_strips,
                inline_long(strip_offsets[0]) if n_strips == 1
                else inline_long(soff_at),
            ),                                       # StripOffsets
            entry(277, 3, 1, inline_short(3)),       # SamplesPerPixel
            entry(278, 3, 1, inline_short(rows_per_strip)),
            entry(
                279, 4, n_strips,
                inline_long(len(strips[0])) if n_strips == 1
                else inline_long(scnt_at),
            ),                                       # StripByteCounts
        ]
        out = b"II*\x00" + struct.pack("<I", ifd_at)
        out += struct.pack("<H", n_tags) + b"".join(entries)
        out += struct.pack("<I", 0)  # no next IFD
        out += struct.pack("<HHH", 8, 8, 8)
        out += b"".join(struct.pack("<I", o) for o in strip_offsets)
        out += b"".join(struct.pack("<I", len(s)) for s in strips)
        return out + b"".join(strips)

    return _synthesize(docs, encode)


def decode_tiff(media: DataFrame) -> DataFrame:
    """REAL TIFF decode via mapInPandas — no imaging library: byte-order
    check, IFD tag walk with the inline-vs-offset value rule (SHORT and
    LONG types; values whose byte size fits 4 bytes live inside the
    entry, larger ones behind an offset), multi-strip reassembly via the
    StripOffsets/StripByteCounts arrays. Baseline uncompressed 8-bit RGB
    little-endian only; anything else raises loudly."""

    type_size = {3: 2, 4: 4}

    def read_values(buf, typ, count, raw):
        size = type_size.get(typ)
        if size is None:
            raise ValueError(f"unsupported TIFF tag type {typ}")
        fmt = "<" + ("H" if typ == 3 else "I") * count
        if size * count <= 4:
            return list(struct.unpack_from(fmt, raw, 0))
        (off,) = struct.unpack_from("<I", raw, 0)
        return list(struct.unpack_from(fmt, buf, off))

    def decode(_d, buf):
        if buf[:4] != b"II*\x00":
            raise ValueError(
                "not a little-endian TIFF (big-endian 'MM' and "
                "BigTIFF unsupported)"
            )
        (ifd_at,) = struct.unpack_from("<I", buf, 4)
        (n_tags,) = struct.unpack_from("<H", buf, ifd_at)
        tags = {}
        for i in range(n_tags):
            at = ifd_at + 2 + i * 12
            tag, typ, count = struct.unpack_from("<HHI", buf, at)
            tags[tag] = read_values(buf, typ, count, buf[at + 8 : at + 12])
        for req in (256, 257, 273, 279):
            if req not in tags:
                raise ValueError(f"missing required TIFF tag {req}")
        w, h = tags[256][0], tags[257][0]
        if tags.get(259, [1])[0] != 1:
            raise ValueError("compressed TIFF unsupported")
        if tags.get(277, [1])[0] != 3 or tags.get(258, [8, 8, 8]) != [8, 8, 8]:
            raise ValueError("need 8-bit RGB samples")
        offs, cnts = tags[273], tags[279]
        if len(offs) != len(cnts):
            raise ValueError("strip offset/count arity mismatch")
        data = bytearray()
        for o, c in zip(offs, cnts):
            if o + c > len(buf):
                raise ValueError("truncated TIFF strip")
            data += buf[o : o + c]
        if len(data) != w * h * 3:
            raise ValueError(f"strip bytes {len(data)} != {w}x{h}x3")
        img = np.frombuffer(bytes(data), dtype=np.uint8).reshape(h, w, 3)
        return {
            "width": int(w), "height": int(h), "n_strips": len(offs),
            "pixels": img,
        }

    return _decode(media, decode, TIFF_FEATURES_SCHEMA)


# ---- compressed images: PNG (zlib), GIF (LZW), PCX (RLE), QOI -------------

PNG_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_idat int, mean_r double, "
    "mean_g double, mean_b double, top_row_sum bigint, byte_checksum bigint"
)


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID 8-bit RGB PNG per document —
    signature, IHDR, IDAT (zlib-deflated filtered scanlines, split into
    TWO IDAT chunks when the stream is long enough to prove chunk
    reassembly), IEND, each chunk CRC32-stamped. The pixels are
    ``_test_image`` in R, G, B order (R = (3*doc_id + 5*x + 7*y) % 256,
    G = +11, B = +22). Every scanline is filtered with type
    (doc_id + row) % 5, so a decoder must implement ALL FIVE reverse
    filters (None/Sub/Up/Average/Paeth) — a decoder that fakes any one
    of them cannot reproduce the closed-form means.
    w = 5 + doc_id mod 9, h = 4 + doc_id mod 5."""

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def encode(d):
        w, h = 5 + d % 9, 4 + d % 5
        img = _test_image(d, w, h)
        bpp = 3  # bytes per pixel
        raw = bytearray()
        prev = bytes(w * bpp)
        for r in range(h):
            line = img[r].tobytes()
            left = bytes(bpp) + line[:-bpp]
            up_left = bytes(bpp) + prev[:-bpp]
            ft = (d + r) % 5
            if ft == 0:  # None
                pred = bytes(len(line))
            elif ft == 1:  # Sub
                pred = left
            elif ft == 2:  # Up
                pred = prev
            elif ft == 3:  # Average
                pred = [(a + b) // 2 for a, b in zip(left, prev)]
            else:  # Paeth
                pred = [paeth(a, b, c) for a, b, c in zip(left, prev, up_left)]
            raw.append(ft)
            raw += bytes((x - p) % 256 for x, p in zip(line, pred))
            prev = line
        z = zlib.compress(bytes(raw), 6)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        # split the zlib stream across two IDATs when possible: chunk
        # boundaries are arbitrary in PNG and a decoder must concatenate
        # before inflating
        if len(z) > 16:
            out += chunk(b"IDAT", z[:16]) + chunk(b"IDAT", z[16:])
        else:
            out += chunk(b"IDAT", z)
        return out + chunk(b"IEND", b"")

    return _synthesize(docs, encode)


def decode_png(media: DataFrame) -> DataFrame:
    """REAL PNG decode via mapInPandas — no imaging library: chunk walk
    with CRC32 verification, multi-IDAT reassembly, zlib inflate, and
    the full reverse filter pass (None/Sub/Up/Average/Paeth with the
    spec's predictor; Average divides the SUM before adding, Paeth
    compares in the spec's tie order). 8-bit RGB non-interlaced only —
    anything else raises loudly. Emits the standard image stats;
    top_row_sum is filter-order sensitive (an Up/Paeth bug corrupts later
    rows more than earlier ones)."""

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    def decode(_d, buf):
        if buf[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG")
        pos, w = 8, None
        idat = bytearray()
        n_idat = 0
        while pos < len(buf):
            (ln,) = struct.unpack_from(">I", buf, pos)
            tag = buf[pos + 4 : pos + 8]
            body = buf[pos + 8 : pos + 8 + ln]
            (crc,) = struct.unpack_from(">I", buf, pos + 8 + ln)
            if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
                raise ValueError(f"bad CRC in {tag!r} chunk")
            if tag == b"IHDR":
                w, h, depth, ctype, comp, filt, inter = struct.unpack(
                    ">IIBBBBB", body
                )
                if (depth, ctype, comp, filt, inter) != (8, 2, 0, 0, 0):
                    raise ValueError(
                        "unsupported PNG (need 8-bit RGB, non-interlaced): "
                        f"depth={depth} ctype={ctype} interlace={inter}"
                    )
            elif tag == b"IDAT":
                idat += body
                n_idat += 1
            elif tag == b"IEND":
                break
            pos += 12 + ln
        if w is None or not idat:
            raise ValueError("missing IHDR/IDAT")
        raw = zlib.decompress(bytes(idat))
        bpp = 3
        stride = w * bpp
        if len(raw) != h * (stride + 1):
            raise ValueError("inflated size mismatch")
        img = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int64)
        for r in range(h):
            ft = raw[r * (stride + 1)]
            line = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
            ).astype(np.int64)
            out = np.zeros(stride, dtype=np.int64)
            if ft == 0:
                out = line
            elif ft == 1:  # Sub
                for i in range(stride):
                    left = out[i - bpp] if i >= bpp else 0
                    out[i] = (line[i] + left) % 256
            elif ft == 2:  # Up
                out = (line + prev) % 256
            elif ft == 3:  # Average
                for i in range(stride):
                    left = out[i - bpp] if i >= bpp else 0
                    out[i] = (line[i] + (left + prev[i]) // 2) % 256
            elif ft == 4:  # Paeth
                for i in range(stride):
                    left = out[i - bpp] if i >= bpp else 0
                    ul = prev[i - bpp] if i >= bpp else 0
                    out[i] = (line[i] + paeth(left, prev[i], ul)) % 256
            else:
                raise ValueError(f"bad filter type {ft}")
            img[r] = out.astype(np.uint8)
            prev = out
        return {
            "width": int(w), "height": int(h), "n_idat": int(n_idat),
            "pixels": img.reshape(h, w, bpp),
        }

    return _decode(media, decode, PNG_FEATURES_SCHEMA)


GIF_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_subblocks int, mean_r double, "
    "mean_g double, mean_b double, top_row_sum bigint, byte_checksum bigint"
)


def _make_lzw_codec():
    """Factory for the GIF LZW encode/decode pair (shipped by value into
    executor closures; encode lives in the synthesizer, decode in the
    operator — both the real dictionary algorithm, 9..12-bit codes,
    LSB-first bit packing, CLEAR on table-full)."""

    def lzw_encode(indices, min_code_size):
        clear = 1 << min_code_size
        eoi = clear + 1
        out_bits = []

        def emit(code, width):
            for b in range(width):
                out_bits.append((code >> b) & 1)

        table = {(i,): i for i in range(clear)}
        next_code = eoi + 1
        width = min_code_size + 1
        emit(clear, width)
        prefix = ()
        for px in indices:
            cand = prefix + (px,)
            if cand in table:
                prefix = cand
                continue
            emit(table[prefix], width)
            table[cand] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
            prefix = (px,)
            if next_code >= 4096:
                emit(clear, width)
                table = {(i,): i for i in range(clear)}
                next_code = eoi + 1
                width = min_code_size + 1
        if prefix:
            emit(table[prefix], width)
        emit(eoi, width)
        data = bytearray()
        for i in range(0, len(out_bits), 8):
            byte = 0
            for j, bit in enumerate(out_bits[i : i + 8]):
                byte |= bit << j
            data.append(byte)
        return bytes(data)

    def lzw_decode(data, min_code_size, n_expected):
        clear = 1 << min_code_size
        eoi = clear + 1
        pos = 0
        nbits = len(data) * 8

        def read(width):
            nonlocal pos
            if pos + width > nbits:
                raise ValueError("LZW stream truncated")
            v = 0
            for b in range(width):
                v |= ((data[(pos + b) >> 3] >> ((pos + b) & 7)) & 1) << b
            pos += width
            return v

        out = []
        table = [(i,) for i in range(clear)] + [(), ()]
        width = min_code_size + 1
        prev = None
        while True:
            code = read(width)
            if code == clear:
                table = [(i,) for i in range(clear)] + [(), ()]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                break
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + (entry[0],))
            elif code == len(table):  # the KwKwK case
                entry = prev + (prev[0],)
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW code {code}")
            out.extend(entry)
            prev = entry
            # width grows when the NEXT append would not fit
            if len(table) >= (1 << width) and width < 12:
                width += 1
            if len(out) > n_expected:
                raise ValueError("LZW decoded past expected pixel count")
        if len(out) != n_expected:
            raise ValueError(
                f"LZW decoded {len(out)} of {n_expected} expected pixels"
            )
        return out

    return lzw_encode, lzw_decode


def synthesize_gif_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID GIF87a per document — logical
    screen descriptor, 256-color global palette, one non-interlaced
    image, REAL LZW-compressed pixel data (9..12-bit codes, LSB-first
    packing, 255-byte sub-blocks), trailer. Pixel index (x, y) = channel 0
    of ``_test_image``, (3*doc_id + 5*x + 7*y) % 256, over
    ``_TEST_PALETTE`` — so decoded channel means have the same closed form
    as the PNG/BMP family. w = 5 + doc_id mod 9, h = 4 + doc_id mod 5."""
    lzw_encode, _ = _make_lzw_codec()

    def encode(d):
        w, h = 5 + d % 9, 4 + d % 5
        indices = _test_image(d, w, h)[:, :, 0].ravel().tolist()
        out = b"GIF87a"
        # packed: GCT flag set, 8-bit color res, 256-entry table
        out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0) + _TEST_PALETTE
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([8])  # LZW minimum code size
        z = lzw_encode(indices, 8)
        for i in range(0, len(z), 255):
            sub = z[i : i + 255]
            out += bytes([len(sub)]) + sub
        return out + b"\x00\x3b"

    return _synthesize(docs, encode)


def decode_gif(media: DataFrame) -> DataFrame:
    """REAL GIF decode via mapInPandas — no imaging library: header +
    logical-screen parse, global palette, image descriptor,
    sub-block reassembly, and a full LZW decoder (variable 9..12-bit
    codes read LSB-first, dictionary growth, CLEAR resets, the KwKwK
    self-referencing case). 87a/89a, single non-interlaced image with a
    global palette; anything else raises loudly. Emits the standard
    image stats via palette lookup."""
    _, lzw_decode = _make_lzw_codec()

    def decode(_d, buf):
        if buf[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF")
        _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
        pos = 13
        if not packed & 0x80:
            raise ValueError("GIF without a global palette unsupported")
        gct_n = 2 << (packed & 0x07)
        palette = np.frombuffer(
            buf, dtype=np.uint8, count=gct_n * 3, offset=pos
        ).reshape(gct_n, 3)
        pos += gct_n * 3
        if buf[pos] != 0x2C:
            raise ValueError(
                f"expected image descriptor, got 0x{buf[pos]:02x} "
                "(extensions unsupported)"
            )
        _left, _top, w, h, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
        pos += 10
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        if ipacked & 0x80:
            raise ValueError("local palette unsupported")
        min_code = buf[pos]
        pos += 1
        z = bytearray()
        n_sub = 0
        while True:
            ln = buf[pos]
            pos += 1
            if ln == 0:
                break
            z += buf[pos : pos + ln]
            pos += ln
            n_sub += 1
        if buf[pos] != 0x3B:
            raise ValueError("missing GIF trailer")
        idx = lzw_decode(bytes(z), min_code, w * h)
        img = palette[np.array(idx, dtype=np.int32)].reshape(h, w, 3)
        return {
            "width": int(w), "height": int(h), "n_subblocks": n_sub,
            "pixels": img,
        }

    return _decode(media, decode, GIF_FEATURES_SCHEMA)


PCX_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, rle_ratio double, mean_r double, "
    "mean_g double, mean_b double, top_row_sum bigint, byte_checksum bigint"
)


def synthesize_pcx_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID 8-bit PCX (version 5) per
    document — 128-byte header (window coords, 8 bpp, 1 plane, even
    bytes-per-line stride), REAL RLE-compressed scanlines (runs encoded
    as 0xC0|len + value, literals >= 0xC0 forced into 1-runs — the
    format's escape rule), and the 256-entry VGA palette after the 0x0C
    marker. Pixel index and palette are the GIF family's:
    index(x, y) = (3*doc_id + 5*x + 7*y) % 256 over ``_TEST_PALETTE``.
    To exercise real runs, every third row is CONSTANT (index of its
    first pixel), so RLE produces genuine multi-byte runs alongside
    literal stretches."""

    def rle_encode(row):
        out = bytearray()
        i = 0
        while i < len(row):
            v = row[i]
            run = 1
            while i + run < len(row) and row[i + run] == v and run < 63:
                run += 1
            if run > 1 or v >= 0xC0:
                out.append(0xC0 | run)
            out.append(v)
            i += run
        return bytes(out)

    def encode(d):
        w, h = 5 + d % 9, 4 + d % 5
        stride = w + (w & 1)  # even bytes-per-line per the spec
        hdr = bytearray(128)
        hdr[0] = 0x0A           # manufacturer
        hdr[1] = 5              # version 5 (palette-capable)
        hdr[2] = 1              # RLE encoding
        hdr[3] = 8              # bits per pixel
        struct.pack_into("<HHHH", hdr, 4, 0, 0, w - 1, h - 1)
        struct.pack_into("<HH", hdr, 12, 72, 72)  # dpi
        hdr[65] = 1             # planes
        struct.pack_into("<H", hdr, 66, stride)
        idx = _test_image(d, w, h)[:, :, 0].copy()
        idx[2::3] = idx[2::3, :1]  # constant rows -> genuine RLE runs
        pad = b"\x00" * (stride - w)
        body = b"".join(rle_encode(idx[y].tobytes() + pad) for y in range(h))
        return bytes(hdr) + body + b"\x0c" + _TEST_PALETTE

    return _synthesize(docs, encode)


def decode_pcx(media: DataFrame) -> DataFrame:
    """REAL PCX decode via mapInPandas — no imaging library: header
    parse (window-relative dimensions, even-stride bytes-per-line),
    RLE expansion (0xC0-escaped runs, literals below 0xC0), stride-
    padding strip, trailing VGA-palette lookup behind the 0x0C marker.
    8-bit single-plane only; anything else raises loudly. Emits the
    standard image stats plus the measured RLE compression ratio
    (expanded/encoded — proves real runs were decoded, not a
    passthrough)."""

    def decode(_d, buf):
        if len(buf) < 128 + 769 or buf[0] != 0x0A:
            raise ValueError("not a PCX")
        if buf[2] != 1 or buf[3] != 8 or buf[65] != 1:
            raise ValueError(
                "unsupported PCX (need RLE, 8 bpp, 1 plane): "
                f"enc={buf[2]} bpp={buf[3]} planes={buf[65]}"
            )
        x0, y0, x1, y1 = struct.unpack_from("<HHHH", buf, 4)
        (stride,) = struct.unpack_from("<H", buf, 66)
        w, h = x1 - x0 + 1, y1 - y0 + 1
        if buf[-769] != 0x0C:
            raise ValueError("missing VGA palette marker")
        palette = np.frombuffer(
            buf, dtype=np.uint8, count=768, offset=len(buf) - 768
        ).reshape(256, 3)
        need = stride * h
        out = bytearray()
        pos = 128
        end = len(buf) - 769
        while len(out) < need:
            if pos >= end:
                raise ValueError("truncated PCX scanline data")
            v = buf[pos]
            pos += 1
            if (v & 0xC0) == 0xC0:
                run = v & 0x3F
                if pos >= end:
                    raise ValueError("dangling RLE escape")
                out += bytes([buf[pos]]) * run
                pos += 1
            else:
                out.append(v)
        if len(out) != need:
            raise ValueError("RLE expansion overran the image")
        idx = np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, stride)[:, :w]
        return {
            "width": int(w), "height": int(h),
            "rle_ratio": need / max(1, pos - 128),
            "pixels": palette[idx.astype(np.int32)],
        }

    return _decode(media, decode, PCX_FEATURES_SCHEMA)


QOI_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, qoi_ratio double, mean_r double, "
    "mean_g double, mean_b double, top_row_sum bigint, byte_checksum bigint"
)


def _make_qoi_codec():
    """Factory for the QOI encode/decode pair (the 2021 public 'Quite OK
    Image' spec, RGB): a running 64-slot color index (hash r*3+g*5+b*7+
    a*11 mod 64), RUN/INDEX/DIFF/LUMA/RGB ops, 8-byte end marker."""

    def qhash(r, g, b):
        return (r * 3 + g * 5 + b * 7 + 255 * 11) % 64

    def qoi_encode(pixels, w, h):
        import struct as _struct

        out = bytearray(b"qoif" + _struct.pack(">IIBB", w, h, 3, 1))
        index = [(0, 0, 0)] * 64
        prev = (0, 0, 0)
        run = 0
        for px in pixels:
            if px == prev:
                run += 1
                if run == 62:
                    out.append(0xC0 | (run - 1))
                    run = 0
                continue
            if run:
                out.append(0xC0 | (run - 1))
                run = 0
            i = qhash(*px)
            if index[i] == px:
                out.append(i)
            else:
                index[i] = px
                dr = (px[0] - prev[0] + 128) % 256 - 128
                dg = (px[1] - prev[1] + 128) % 256 - 128
                db = (px[2] - prev[2] + 128) % 256 - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
                elif (
                    -32 <= dg <= 31
                    and -8 <= dr - dg <= 7
                    and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out += bytes((0xFE, *px))
            prev = px
        if run:
            out.append(0xC0 | (run - 1))
        out += b"\x00" * 7 + b"\x01"
        return bytes(out)

    def qoi_decode(buf):
        import struct as _struct

        if buf[:4] != b"qoif":
            raise ValueError("not a QOI image")
        w, h, channels, _cs = _struct.unpack_from(">IIBB", buf, 4)
        if channels != 3:
            raise ValueError(f"unsupported QOI channels={channels}")
        need = w * h
        px = (0, 0, 0)
        index = [(0, 0, 0)] * 64
        out = []
        pos = 14
        while len(out) < need:
            if pos >= len(buf) - 8:
                raise ValueError("truncated QOI stream")
            b1 = buf[pos]
            pos += 1
            if b1 == 0xFE:  # RGB
                px = (buf[pos], buf[pos + 1], buf[pos + 2])
                pos += 3
            elif b1 == 0xFF:
                raise ValueError("RGBA op in a 3-channel stream")
            elif b1 >> 6 == 0:  # INDEX
                px = index[b1]
                out.append(px)
                # INDEX does not re-insert; continue without hash update
                continue
            elif b1 >> 6 == 1:  # DIFF
                px = (
                    (px[0] + ((b1 >> 4) & 3) - 2) % 256,
                    (px[1] + ((b1 >> 2) & 3) - 2) % 256,
                    (px[2] + (b1 & 3) - 2) % 256,
                )
            elif b1 >> 6 == 2:  # LUMA
                dg = (b1 & 0x3F) - 32
                b2 = buf[pos]
                pos += 1
                px = (
                    (px[0] + dg + ((b2 >> 4) & 0x0F) - 8) % 256,
                    (px[1] + dg) % 256,
                    (px[2] + dg + (b2 & 0x0F) - 8) % 256,
                )
            else:  # RUN
                run = (b1 & 0x3F) + 1
                out.extend([px] * run)
                continue
            index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + 255 * 11) % 64] = px
            out.append(px)
        if len(out) != need:
            raise ValueError(f"QOI decoded {len(out)} of {need} pixels")
        if buf[pos : pos + 8] != b"\x00" * 7 + b"\x01":
            raise ValueError("missing QOI end marker")
        return w, h, out, pos + 8

    return qoi_encode, qoi_decode


def synthesize_qoi_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID QOI (RGB) per document, really
    encoded — the +5/+7 formula steps emit LUMA ops, every fourth row
    is constant (RUN ops), repeated colors hit the 64-slot INDEX, and
    first-of-kind pixels fall back to full RGB ops. The pixels are
    ``_test_image`` in R, G, B order (R = (3*doc_id + 5*x + 7*y) % 256,
    G = +11, B = +22), except rows with y % 4 == 3, which repeat their
    first pixel."""
    qoi_encode, _ = _make_qoi_codec()

    def encode(d):
        w, h = 5 + d % 9, 4 + d % 5
        img = _test_image(d, w, h)
        img[3::4] = img[3::4, :1]
        return qoi_encode([tuple(p) for p in img.reshape(-1, 3).tolist()], w, h)

    return _synthesize(docs, encode)


def decode_qoi(media: DataFrame) -> DataFrame:
    """REAL QOI decode via mapInPandas — no imaging library: the full op
    dispatch (RUN with its 62 cap, the running 64-slot color INDEX with
    the spec's multiplicative hash, 2-bit DIFF, LUMA green-delta
    encoding, literal RGB) plus end-marker verification. 3-channel only;
    emits the standard image stats and the measured compression ratio."""
    _, qoi_decode = _make_qoi_codec()

    def decode(_d, buf):
        w, h, pixels, consumed = qoi_decode(buf)
        return {
            "width": int(w), "height": int(h),
            "qoi_ratio": w * h * 3 / max(1, consumed - 22),
            "pixels": np.array(pixels, dtype=np.uint8).reshape(h, w, 3),
        }

    return _decode(media, decode, QOI_FEATURES_SCHEMA)


# ---- JPEG: Annex-K Huffman + IDCT, baseline through progressive ----------

JPEG_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_blocks int, mean_px double, "
    "top_row_sum bigint, byte_checksum bigint"
)

_JpegCodec = namedtuple(
    "_JpegCodec",
    "encode_gray encode_color decode encode_color_420 "
    "encode_gray_progressive encode_color_422 encode_gray_progressive_sa",
)


def _make_jpeg_codec():
    """Factory for the baseline-JFIF encode/decode pair (shipped by
    value into executor closures; encode lives in the synthesizer and
    the tests, decode in the operator). Both halves are the REAL
    algorithms on the fifth compression family (after zlib, LZW, RLE,
    QOI): canonical Huffman from the spec's Annex-K luminance AND
    chrominance BITS/HUFFVAL tables, per-component DC difference
    prediction, run/size AC coding with ZRL/EOB, MSB-first bit packing
    with 0xFF 0x00 byte stuffing, zigzag coefficient order, a full 8x8
    separable float IDCT, and (color) interleaved 4:4:4 YCbCr MCUs with
    the spec's YCbCr->RGB conversion.

    Returns a ``_JpegCodec`` (a namedtuple, so positional unpacking
    works too); closures capture its fields, never the tuple, so only
    factory-made functions ship. ``encode_gray(blocks, w, h)`` takes QUANTIZED coefficient blocks
    (8x8 int arrays in natural order, T.81 convention: row index =
    VERTICAL frequency v, column = horizontal u — the orientation the
    zigzag scan implies; quant tables all ones) in raster MCU order;
    ``encode_color(y, cb, cr, w, h)`` takes one such list per component
    (4:4:4 — one block of each per MCU). Both emit complete JFIF files
    other baseline decoders can read. ``decode(buf)`` walks the markers
    (unsupported SOF types / restart intervals / subsampling raise
    loudly), entropy-decodes every component, dequantizes, inverse-DCTs,
    level-shifts, converts color, and clamps — returning
    ``(w, h, pixels, n_mcus)`` where pixels is a 2-D gray array for
    1-component files and a 2-D array of (r, g, b) for 3-component."""
    import math as _math

    ZIGZAG = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    # ITU T.81 Annex K: standard luminance + chrominance Huffman tables
    DC_L_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_L_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    AC_L_VALS = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
    AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
    AC_C_VALS = [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]

    def canonical(bits, vals):
        """(symbol -> (length, code), (length, code) -> symbol) from the
        BITS/HUFFVAL spec representation (canonical code assignment)."""
        enc, dec = {}, {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                sym = vals[k]
                enc[sym] = (length, code)
                dec[(length, code)] = sym
                code += 1
                k += 1
            code <<= 1
        return enc, dec

    DC_L_ENC, _ = canonical(DC_L_BITS, DC_VALS)
    AC_L_ENC, _ = canonical(AC_L_BITS, AC_L_VALS)
    DC_C_ENC, _ = canonical(DC_C_BITS, DC_VALS)
    AC_C_ENC, _ = canonical(AC_C_BITS, AC_C_VALS)

    # IDCT basis: A[u, x] = C(u)/2 * cos((2x+1) u pi / 16); f = A.T F A
    A = [
        [
            ((1.0 / _math.sqrt(2.0)) if u == 0 else 1.0)
            / 2.0
            * _math.cos((2 * x + 1) * u * _math.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]

    def magnitude(v):
        """(category, offset-bits) for a signed coefficient value."""
        t, a = 0, abs(v)
        while a:
            t += 1
            a >>= 1
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def _encode(components, w, h, sampling=None):
        """components: 1 (gray) or 3 (YCbCr) lists of quantized 8x8
        blocks, each in ITS PLANE's raster order (the encoder performs
        the MCU interleave). ``sampling`` gives per-component (h, v)
        factors — default all (1, 1): grayscale / 4:4:4; [(2,2),(1,1),
        (1,1)] is 4:2:0. Component 0 uses the luminance tables + quant
        table 0; the rest the chrominance pair."""
        import struct as _struct

        ncomp = len(components)
        sampling = sampling or [(1, 1)] * ncomp
        hmax = max(hv[0] for hv in sampling)
        vmax = max(hv[1] for hv in sampling)
        if w % (8 * hmax) or h % (8 * vmax):
            raise ValueError(
                f"dims must be multiples of the {8 * hmax}x{8 * vmax} MCU"
            )
        mcw, mch = w // (8 * hmax), h // (8 * vmax)
        for ci, (hi, vi) in enumerate(sampling):
            want = mcw * hi * mch * vi
            if len(components[ci]) != want:
                raise ValueError(
                    f"component {ci}: {len(components[ci])} blocks, "
                    f"expected {want}"
                )
        out_bits = []

        def put(nbits, value):
            if nbits:
                out_bits.append((nbits, value))

        preds = [0] * ncomp
        for my in range(mch):
          for mx in range(mcw):
            for ci in range(ncomp):
              hi, vi = sampling[ci]
              for by in range(vi):
               for bx in range(hi):
                dc_enc = DC_L_ENC if ci == 0 else DC_C_ENC
                ac_enc = AC_L_ENC if ci == 0 else AC_C_ENC
                blk = components[ci][
                    (my * vi + by) * (mcw * hi) + (mx * hi + bx)
                ]
                dc = int(blk[0][0])
                t, extra = magnitude(dc - preds[ci])
                ln, code = dc_enc[t]
                put(ln, code)
                put(t, extra)
                preds[ci] = dc
                zz = [int(blk[z // 8][z % 8]) for z in ZIGZAG]
                run = 0
                for coef in zz[1:]:
                    if coef == 0:
                        run += 1
                        continue
                    while run > 15:
                        ln, code = ac_enc[0xF0]  # ZRL: 16 zeros
                        put(ln, code)
                        run -= 16
                    t, extra = magnitude(coef)
                    ln, code = ac_enc[(run << 4) | t]
                    put(ln, code)
                    put(t, extra)
                    run = 0
                if run:
                    ln, code = ac_enc[0x00]  # EOB
                    put(ln, code)
        # MSB-first bit packing, 1-padded final byte, 0xFF stuffing
        data = bytearray()
        acc, n = 0, 0
        for nbits, value in out_bits:
            acc = (acc << nbits) | (value & ((1 << nbits) - 1))
            n += nbits
            while n >= 8:
                n -= 8
                byte = (acc >> n) & 0xFF
                data.append(byte)
                if byte == 0xFF:
                    data.append(0x00)
        if n:
            byte = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF
            data.append(byte)
            if byte == 0xFF:
                data.append(0x00)

        def seg(marker, body):
            return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

        dqt = bytes([0x00]) + bytes([1] * 64)
        dht = bytes([0x00]) + bytes(DC_L_BITS) + bytes(DC_VALS)
        dht += bytes([0x10]) + bytes(AC_L_BITS) + bytes(AC_L_VALS)
        hv_bytes = [(hi << 4) | vi for hi, vi in sampling]
        if ncomp == 3:
            dqt += bytes([0x01]) + bytes([1] * 64)
            dht += bytes([0x01]) + bytes(DC_C_BITS) + bytes(DC_VALS)
            dht += bytes([0x11]) + bytes(AC_C_BITS) + bytes(AC_C_VALS)
            sof_comps = bytes([
                1, hv_bytes[0], 0, 2, hv_bytes[1], 1, 3, hv_bytes[2], 1,
            ])
            sos_comps = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11])
        else:
            sof_comps = bytes([1, hv_bytes[0], 0])
            sos_comps = bytes([1, 1, 0x00])
        return (
            b"\xff\xd8"  # SOI
            + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xDB, dqt)
            + seg(0xC0, _struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
            + seg(0xC4, dht)
            + seg(0xDA, sos_comps + bytes([0, 63, 0]))
            + bytes(data)
            + b"\xff\xd9"  # EOI
        )

    def encode_gray(blocks, w, h):
        return _encode([blocks], w, h)

    def encode_color(y_blocks, cb_blocks, cr_blocks, w, h):
        return _encode([y_blocks, cb_blocks, cr_blocks], w, h)

    def encode_color_420(y_blocks, cb_blocks, cr_blocks, w, h):
        """4:2:0: Y at full resolution (4 blocks per 16x16 MCU), Cb/Cr
        at half resolution in both axes (1 block each per MCU)."""
        return _encode(
            [y_blocks, cb_blocks, cr_blocks], w, h,
            sampling=[(2, 2), (1, 1), (1, 1)],
        )

    def encode_color_422(y_blocks, cb_blocks, cr_blocks, w, h):
        """4:2:2 (the broadcast-video layout): Y at full resolution
        (two side-by-side blocks per 16x8 MCU), Cb/Cr halved
        HORIZONTALLY only (1 block each per MCU)."""
        return _encode(
            [y_blocks, cb_blocks, cr_blocks], w, h,
            sampling=[(2, 1), (1, 1), (1, 1)],
        )

    def decode(buf):
        """Baseline-sequential (SOF0) AND progressive (SOF2, spectral
        selection, Ah=Al=0) decode: scans accumulate into a persistent
        per-block coefficient store; dequant + IDCT run once after EOI.
        Successive approximation, restart intervals and sampling
        factors above 2 refuse loudly."""
        import struct as _struct

        if buf[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG (no SOI)")
        pos = 2
        qts = {}
        decs = {}  # (class, id) -> (length, code) -> symbol
        w = h = None
        comps = []  # (cid, tq, hi, vi) in SOF order
        progressive = False
        coeffs = None  # [ci][plane block index][64] raw (unquantized) ints
        preds = None
        n_blocks = None  # per comp: (bw_i, bh_i)
        hmax = vmax = mcw = mch = None
        saw_scan = False

        def alloc():
            nonlocal coeffs, preds, n_blocks, hmax, vmax, mcw, mch
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            if w % (8 * hmax) or h % (8 * vmax):
                raise ValueError(
                    f"dims must be multiples of the {8 * hmax}x{8 * vmax} "
                    "MCU (edge extension not implemented)"
                )
            mcw, mch = w // (8 * hmax), h // (8 * vmax)
            n_blocks = [
                (mcw * hi, mch * vi) for (_c, _t, hi, vi) in comps
            ]
            coeffs = [
                [[0] * 64 for _ in range(bw_i * bh_i)]
                for (bw_i, bh_i) in n_blocks
            ]
            preds = [0] * len(comps)

        # -- per-scan entropy decoding ---------------------------------
        def decode_scan(scan_start, scan, ss, se, ah, al):
            """Returns the buffer position of the next marker."""
            if ah and ss == 0 and se != 0:
                raise ValueError("DC refinement scan must have Se=0")
            if ah and ss > 0 and ah != al + 1:
                raise ValueError(
                    "AC refinement scans must step one bit (Ah == Al+1)"
                )
            state = {"pos": scan_start, "acc": 0, "n": 0}

            def read_bit():
                if state["n"] == 0:
                    p = state["pos"]
                    if p >= len(buf):
                        raise ValueError("truncated scan")
                    byte = buf[p]
                    if byte == 0xFF:
                        if p + 1 >= len(buf):
                            raise ValueError("truncated scan")
                        nxt = buf[p + 1]
                        if nxt == 0x00:
                            state["pos"] = p + 2
                        else:
                            raise ValueError(
                                "scan ran out of data at marker "
                                f"{nxt:#x}"
                            )
                    else:
                        state["pos"] = p + 1
                    state["acc"] = byte
                    state["n"] = 8
                state["n"] -= 1
                return (state["acc"] >> state["n"]) & 1

            def read_bits(t):
                v = 0
                for _ in range(t):
                    v = (v << 1) | read_bit()
                return v

            def huff(dec_map):
                length, code = 0, 0
                while length < 16:
                    code = (code << 1) | read_bit()
                    length += 1
                    if (length, code) in dec_map:
                        return dec_map[(length, code)]
                raise ValueError("invalid Huffman code in scan")

            def extend(v, t):
                return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1

            eobrun = 0

            def ac_band(ac_dec, zz, k_start, k_end):
                """Decode one block's AC band (first/spectral scan,
                coefficients scaled by 2^al); returns blocks-to-skip
                (EOBRUN remainder, counts blocks AFTER this one)."""
                k = k_start
                while k <= k_end:
                    rs = huff(ac_dec)
                    r, t = rs >> 4, rs & 0x0F
                    if t == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        # EOBn: run of (1<<r)+extra end-of-band blocks,
                        # INCLUDING this one
                        return (1 << r) - 1 + read_bits(r)
                    k += r
                    if k > k_end:
                        raise ValueError("AC run past band end")
                    zz[k] = extend(read_bits(t), t) << al
                    k += 1
                return 0

            def refine_nonzero(zz, k):
                """One correction bit for an already-significant coef
                (two's-complement append, libjpeg semantics)."""
                p1 = 1 << al
                if read_bit() and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else -p1

            def ac_refine(ac_dec, zz, k_start, k_end, incoming_eobrun):
                """AC successive-approximation refinement for one block
                (jdphuff decode_mcu_AC_refine structure). Returns the
                EOBRUN remainder for blocks AFTER this one."""
                p1 = 1 << al
                k = k_start
                eob = incoming_eobrun
                if eob == 0:
                    while k <= k_end:
                        rs = huff(ac_dec)
                        r, t = rs >> 4, rs & 0x0F
                        newval = 0
                        if t:
                            if t != 1:
                                raise ValueError(
                                    "AC refinement symbol size must be 1"
                                )
                            newval = p1 if read_bit() else -p1
                        elif r != 15:
                            eob = (1 << r) + (read_bits(r) if r else 0)
                            break  # tail loop refines the rest
                        # walk: nonzero-history coefs take correction
                        # bits and do NOT consume the run
                        while k <= k_end:
                            if zz[k] != 0:
                                refine_nonzero(zz, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval and k <= k_end:
                            zz[k] = newval
                        k += 1
                # EOBRUN tail: correction bits for remaining nonzero
                # coefs of the current block, then this block is covered
                if eob > 0:
                    while k <= k_end:
                        if zz[k] != 0:
                            refine_nonzero(zz, k)
                        k += 1
                    return eob - 1
                return 0

            if ss == 0:
                # DC included: interleaved MCU order over the scan comps
                if progressive and se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                for my in range(mch):
                  for mx in range(mcw):
                    for ci, td, ta in scan:
                        _cid, _tq, hi, vi = comps[ci]
                        dc_dec = decs.get((0, td))
                        if dc_dec is None and not ah:
                            raise ValueError("scan references missing DHT")
                        for iby in range(vi):
                          for ibx in range(hi):
                            bw_i = n_blocks[ci][0]
                            blk = (my * vi + iby) * bw_i + (mx * hi + ibx)
                            zz = coeffs[ci][blk]
                            if ah:  # DC refinement: append one bit
                                if read_bit():
                                    zz[0] |= 1 << al
                            else:
                                t = huff(dc_dec)
                                preds[ci] += extend(read_bits(t), t)
                                zz[0] = preds[ci] << al
                            if se > 0:
                                ac_dec = decs.get((1, ta))
                                if ac_dec is None:
                                    raise ValueError(
                                        "scan references missing DHT"
                                    )
                                ac_band(ac_dec, zz, 1, se)
            else:
                # AC scan: per spec, non-interleaved single component
                if len(scan) != 1:
                    raise ValueError("AC scans must cover one component")
                ci, _td, ta = scan[0]
                ac_dec = decs.get((1, ta))
                if ac_dec is None:
                    raise ValueError("scan references missing DHT")
                bw_i, bh_i = n_blocks[ci]
                for blk in range(bw_i * bh_i):
                    if ah:
                        eobrun = ac_refine(
                            ac_dec, coeffs[ci][blk], ss, se, eobrun
                        )
                        continue
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    eobrun = ac_band(ac_dec, coeffs[ci][blk], ss, se)
            # align to the next marker (drop partial-byte padding)
            p = state["pos"]
            while p < len(buf) - 1 and not (
                buf[p] == 0xFF and buf[p + 1] != 0x00
            ):
                p += 1
            return p

        # -- marker walk (multiple SOS for progressive) ----------------
        while pos < len(buf):
            if buf[pos] != 0xFF:
                raise ValueError(f"marker expected at {pos}")
            marker = buf[pos + 1]
            if marker == 0xD9:  # EOI
                break
            (ln,) = _struct.unpack_from(">H", buf, pos + 2)
            body = buf[pos + 4 : pos + 2 + ln]
            if marker == 0xDB:
                p = 0
                while p < len(body):
                    pq, tq = body[p] >> 4, body[p] & 0x0F
                    if pq != 0:
                        raise ValueError("only 8-bit quant tables supported")
                    qts[tq] = list(body[p + 1 : p + 65])
                    p += 65
            elif marker in (0xC0, 0xC2):
                progressive = marker == 0xC2
                prec, h, w, ncomp = _struct.unpack_from(">BHHB", body, 0)
                if prec != 8 or ncomp not in (1, 3):
                    raise ValueError(
                        f"unsupported SOF: precision={prec} ncomp={ncomp}"
                    )
                if len(body) < 6 + 3 * ncomp:
                    raise ValueError("truncated SOF header")
                # per-component triples start at byte 6: id, HV, Tq
                for ci in range(ncomp):
                    cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                    hi, vi = hv >> 4, hv & 0x0F
                    if hi not in (1, 2) or vi not in (1, 2):
                        raise ValueError(
                            "unsupported sampling factors (h and v must "
                            f"be 1 or 2): HV={hv:#x}"
                        )
                    comps.append((cid, tq, hi, vi))
                alloc()
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(
                    f"unsupported SOF marker 0xFF{marker:02X} — baseline "
                    "sequential (SOF0) or progressive (SOF2) only"
                )
            elif marker == 0xDD:
                raise ValueError("restart intervals (DRI) not supported")
            elif marker == 0xC4:
                p = 0
                while p < len(body):
                    tc, th = body[p] >> 4, body[p] & 0x0F
                    bits = list(body[p + 1 : p + 17])
                    nv = sum(bits)
                    vals = list(body[p + 17 : p + 17 + nv])
                    if len(bits) < 16 or len(vals) < nv:
                        raise ValueError("truncated DHT segment")
                    _, dec_map = canonical(bits, vals)
                    decs[(tc, th)] = dec_map
                    p += 17 + nv
            elif marker == 0xDA:
                if coeffs is None:
                    raise ValueError("SOS before SOF")
                ns = body[0]
                if len(body) < 4 + 2 * ns:
                    raise ValueError("truncated SOS header")
                cid_to_idx = {c[0]: i for i, c in enumerate(comps)}
                scan = []
                for si in range(ns):
                    cid, tdta = body[1 + 2 * si], body[2 + 2 * si]
                    if cid not in cid_to_idx:
                        raise ValueError(f"SOS names unknown component {cid}")
                    scan.append((cid_to_idx[cid], tdta >> 4, tdta & 0x0F))
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                saw_scan = True
                pos = decode_scan(
                    pos + 2 + ln, scan, ss, se, ahal >> 4, ahal & 0x0F
                )
                continue
            pos += 2 + ln
        if not qts or coeffs is None or not saw_scan:
            raise ValueError("missing DQT/SOF/SOS")

        # -- reconstruction: dequant + IDCT + upsample + convert -------
        def idct_block(zz, qt):
            F2 = [[0.0] * 8 for _ in range(8)]
            for z in range(64):
                F2[ZIGZAG[z] // 8][ZIGZAG[z] % 8] = float(zz[z] * qt[z])
            tmp = [
                [
                    sum(F2[u][v] * A[v][x] for v in range(8))
                    for x in range(8)
                ]
                for u in range(8)
            ]
            return [
                [
                    sum(A[u][y] * tmp[u][x] for u in range(8))
                    for x in range(8)
                ]
                for y in range(8)
            ]

        ncomp = len(comps)
        planes = []
        for ci, (_cid, tq_i, hi, vi) in enumerate(comps):
            qt = qts.get(tq_i)
            if qt is None:
                raise ValueError("component references missing DQT")
            bw_i, bh_i = n_blocks[ci]
            plane = [
                [0.0] * (bw_i * 8) for _ in range(bh_i * 8)
            ]
            for blk, zz in enumerate(coeffs[ci]):
                vals = idct_block(zz, qt)
                oy, ox = (blk // bw_i) * 8, (blk % bw_i) * 8
                for y in range(8):
                    row = plane[oy + y]
                    for x in range(8):
                        row[ox + x] = vals[y][x] + 128.0
            planes.append(plane)
        # nearest-neighbor upsample subsampled planes to full resolution
        for ci, (_cid, _tq, hi, vi) in enumerate(comps):
            fx, fy = hmax // hi, vmax // vi
            if fx == 1 and fy == 1:
                continue
            planes[ci] = [
                [planes[ci][y // fy][x // fx] for x in range(w)]
                for y in range(h)
            ]
        if ncomp == 1:
            # half-up rounding (floor(v + 0.5)): spec-faithful and, unlike
            # Python's banker's round, exactly replicable in SQL oracles
            pixels = [
                [min(255, max(0, int(_math.floor(v + 0.5)))) for v in row]
                for row in planes[0]
            ]
        else:
            # T.871 YCbCr -> RGB, half-up rounded then clamped per channel
            pixels = []
            for y in range(h):
                row = []
                for x in range(w):
                    Y = planes[0][y][x]
                    cb = planes[1][y][x] - 128.0
                    cr = planes[2][y][x] - 128.0
                    r = Y + 1.402 * cr
                    g = Y - 0.344136 * cb - 0.714136 * cr
                    b = Y + 1.772 * cb
                    row.append(tuple(
                        min(255, max(0, int(_math.floor(v + 0.5))))
                        for v in (r, g, b)
                    ))
                pixels.append(row)
        return w, h, pixels, mcw * mch

    def encode_gray_progressive(blocks, w, h):
        """Progressive (SOF2, spectral selection, Ah=Al=0) grayscale:
        scan 1 carries every block's DC (differential, luminance DC
        table); scan 2 the full 1..63 AC band with REAL EOBn run
        accumulation across blocks (the progressive-specific coding a
        sequential decoder cannot read)."""
        import struct as _struct

        n_mcus = (w // 8) * (h // 8)
        if len(blocks) != n_mcus:
            raise ValueError("block count must equal MCU count")

        def pack(bit_list):
            data = bytearray()
            acc, n = 0, 0
            for nbits, value in bit_list:
                acc = (acc << nbits) | (value & ((1 << nbits) - 1))
                n += nbits
                while n >= 8:
                    n -= 8
                    byte = (acc >> n) & 0xFF
                    data.append(byte)
                    if byte == 0xFF:
                        data.append(0x00)
            if n:
                byte = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF
                data.append(byte)
                if byte == 0xFF:
                    data.append(0x00)
            return bytes(data)

        # scan 1: DC only
        dc_bits = []
        pred = 0
        for blk in blocks:
            dc = int(blk[0][0])
            t, extra = magnitude(dc - pred)
            ln, code = DC_L_ENC[t]
            dc_bits.append((ln, code))
            if t:
                dc_bits.append((t, extra))
            pred = dc
        # scan 2: AC band 1..63 with EOBn accumulation. The Annex-K
        # SEQUENTIAL AC table defines no EOBn symbols (only 0x00/0xF0),
        # so — exactly like real progressive encoders — this scan ships
        # its own table: a legal flat canonical Huffman covering ALL 256
        # run/size symbols (128 at 8 bits, 128 at 9; Kraft sum 0.75)
        prog_bits = [0] * 7 + [128, 128] + [0] * 7
        prog_vals = list(range(256))
        prog_enc, _ = canonical(prog_bits, prog_vals)
        ac_bits = []
        pending_eob = 0

        def flush_eob():
            nonlocal pending_eob
            while pending_eob:
                v = min(pending_eob, 32767)
                n = v.bit_length() - 1
                ln, code = prog_enc[(n << 4) | 0]
                ac_bits.append((ln, code))
                if n:
                    ac_bits.append((n, v - (1 << n)))
                pending_eob -= v

        for blk in blocks:
            zz = [int(blk[z // 8][z % 8]) for z in ZIGZAG]
            band = zz[1:]
            if not any(band):
                pending_eob += 1
                continue
            flush_eob()
            run = 0
            last_nz = max(i for i, c in enumerate(band) if c)
            for i, coef in enumerate(band[: last_nz + 1]):
                if coef == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = prog_enc[0xF0]
                    ac_bits.append((ln, code))
                    run -= 16
                t, extra = magnitude(coef)
                ln, code = prog_enc[(run << 4) | t]
                ac_bits.append((ln, code))
                ac_bits.append((t, extra))
                run = 0
            if last_nz + 1 < len(band):
                pending_eob += 1  # trailing zeros: this block EOBs
        flush_eob()

        def seg(marker, body):
            return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

        dht = bytes([0x00]) + bytes(DC_L_BITS) + bytes(DC_VALS)
        dht += bytes([0x11]) + bytes(prog_bits) + bytes(prog_vals)
        return (
            b"\xff\xd8"
            + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
            + seg(0xC2, _struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
            + seg(0xC4, dht)
            + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))  # DC scan Ss=Se=0
            + pack(dc_bits)
            + seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0]))  # AC scan 1..63, Ta=1
            + pack(ac_bits)
            + b"\xff\xd9"
        )

    def encode_gray_progressive_sa(blocks, w, h):
        """Progressive with SUCCESSIVE APPROXIMATION (four scans): DC
        and the 1..63 AC band each sent at Al=1 first, then refined one
        bit (Ah=1 -> Al=0) — the jcphuff coding discipline: refinement
        runs count only zero-HISTORY positions, already-significant
        coefficients ride as buffered correction bits flushed after the
        next newly-significant symbol (or with the EOBn), and the
        refinement EOB is the last NEWLY-significant index."""
        import struct as _struct

        n_mcus = (w // 8) * (h // 8)
        if len(blocks) != n_mcus:
            raise ValueError("block count must equal MCU count")
        prog_bits = [0] * 7 + [128, 128] + [0] * 7
        prog_vals = list(range(256))
        prog_enc, _ = canonical(prog_bits, prog_vals)
        AL = 1

        def pack(bit_list):
            data = bytearray()
            acc, n = 0, 0
            for nbits, value in bit_list:
                acc = (acc << nbits) | (value & ((1 << nbits) - 1))
                n += nbits
                while n >= 8:
                    n -= 8
                    byte = (acc >> n) & 0xFF
                    data.append(byte)
                    if byte == 0xFF:
                        data.append(0x00)
            if n:
                byte = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF
                data.append(byte)
                if byte == 0xFF:
                    data.append(0x00)
            return bytes(data)

        def zigzag_band(blk):
            return [int(blk[z // 8][z % 8]) for z in ZIGZAG][1:]

        # scan 1: DC first at Al=1 — diffs of the arithmetic-shifted DC
        dc1, pred = [], 0
        for blk in blocks:
            v = int(blk[0][0]) >> AL
            t, extra = magnitude(v - pred)
            ln, code = DC_L_ENC[t]
            dc1.append((ln, code))
            if t:
                dc1.append((t, extra))
            pred = v

        # scan 2: AC first at Al=1 — spectral coding of sign*(abs>>1)
        ac1, pending = [], 0

        def flush_eob_1():
            nonlocal pending
            while pending:
                v = min(pending, 32767)
                n = v.bit_length() - 1
                ln, code = prog_enc[(n << 4) | 0]
                ac1.append((ln, code))
                if n:
                    ac1.append((n, v - (1 << n)))
                pending -= v

        for blk in blocks:
            band = zigzag_band(blk)
            c1 = [
                ((abs(c) >> AL) if c >= 0 else -(abs(c) >> AL))
                for c in band
            ]
            if not any(c1):
                pending += 1
                continue
            flush_eob_1()
            run = 0
            last_nz = max(i for i, c in enumerate(c1) if c)
            for c in c1[: last_nz + 1]:
                if c == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = prog_enc[0xF0]
                    ac1.append((ln, code))
                    run -= 16
                t, extra = magnitude(c)
                ln, code = prog_enc[(run << 4) | t]
                ac1.append((ln, code))
                ac1.append((t, extra))
                run = 0
            if last_nz + 1 < len(c1):
                pending += 1
        flush_eob_1()

        # scan 3: DC refinement — the Al-1 bit of each block's DC
        dc2 = [(1, int(blk[0][0]) & 1) for blk in blocks]

        # scan 4: AC refinement (Ah=1, Al=0). TWO correction-bit
        # buffers, as in jcphuff: ``br`` holds the CURRENT block's bits
        # (flushed right after each emitted symbol — the decoder
        # consumes them during the post-symbol walk), while ``be`` holds
        # bits belonging to EOBRUN-covered blocks (flushed right after
        # the EOBn — the decoder consumes them in the covered blocks'
        # refinement tails).
        ac2, pending2, br, be = [], 0, [], []

        def flush_eob_2():
            nonlocal pending2
            if pending2:
                if pending2 > 32767:
                    raise ValueError("EOBRUN overflow")
                v = pending2
                n = v.bit_length() - 1
                ln, code = prog_enc[(n << 4) | 0]
                ac2.append((ln, code))
                if n:
                    ac2.append((n, v - (1 << n)))
                pending2 = 0
                ac2.extend((1, b) for b in be)
                be.clear()

        def flush_br():
            ac2.extend((1, b) for b in br)
            br.clear()

        for blk in blocks:
            band = zigzag_band(blk)
            absv = [abs(c) for c in band]  # this scan's Al is 0
            eob = -1
            for i, a in enumerate(absv):
                if a == 1:
                    eob = i
            r = 0
            for i, a in enumerate(absv):
                if a == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob:
                    flush_eob_2()
                    ln, code = prog_enc[0xF0]
                    ac2.append((ln, code))
                    r -= 16
                    flush_br()
                if a > 1:  # already significant: correction bit only
                    br.append(a & 1)
                    continue
                # newly significant (a == 1)
                flush_eob_2()
                ln, code = prog_enc[(r << 4) | 1]
                ac2.append((ln, code))
                ac2.append((1, 1 if band[i] >= 0 else 0))
                flush_br()
                r = 0
            if r > 0 or br:
                pending2 += 1
                be.extend(br)
                br.clear()
        flush_eob_2()

        def seg(marker, body):
            return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

        dht = bytes([0x00]) + bytes(DC_L_BITS) + bytes(DC_VALS)
        dht += bytes([0x11]) + bytes(prog_bits) + bytes(prog_vals)
        return (
            b"\xff\xd8"
            + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
            + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
            + seg(0xC2, _struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
            + seg(0xC4, dht)
            + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))  # DC first, Al=1
            + pack(dc1)
            + seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0x01]))  # AC first, Al=1
            + pack(ac1)
            + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))  # DC refine
            + pack(dc2)
            + seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0x10]))  # AC refine
            + pack(ac2)
            + b"\xff\xd9"
        )

    return _JpegCodec(
        encode_gray, encode_color, decode, encode_color_420,
        encode_gray_progressive, encode_color_422,
        encode_gray_progressive_sa,
    )


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID baseline JFIF grayscale JPEG
    per document, really entropy-coded with the Annex-K tables. The
    image is PIECEWISE-CONSTANT per 8x8 block (``_gray_blocks``: block
    (bx, by) has gray value (3*doc_id + 17*bx + 29*by) % 256), which
    makes the lossy codec EXACT here: a constant block's DCT is DC-only,
    the all-ones quant table preserves it, and the IDCT returns the
    constant bit-for-bit after rounding. DC prediction chains across
    blocks (varying block values exercise it), AC coding contributes
    EOBs; non-zero AC coefficients are exercised by the
    coefficient-roundtrip unit tests (their decoded pixels have no
    closed form the SQL oracle could state).
    w = 8*(1 + doc_id mod 3), h = 8*(1 + doc_id mod 2)."""
    encode_gray = _make_jpeg_codec().encode_gray
    return _synthesize(docs, lambda d: encode_gray(*_gray_blocks(d)))


def synthesize_jpeg_progressive_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID PROGRESSIVE (SOF2, spectral
    selection) grayscale JPEG per document — a DC scan for every block
    followed by a full 1..63 AC band scan with real cross-block EOBn
    runs (DC-only blocks make the AC scan one long EOB run, the
    progressive-specific coding). Same image formula and geometry as
    the sequential synthesizer, so the two containers decode to the
    same closed-form stats."""
    encode_prog = _make_jpeg_codec().encode_gray_progressive
    return _synthesize(docs, lambda d: encode_prog(*_gray_blocks(d)))


def synthesize_jpeg_sa_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID progressive JPEG with
    SUCCESSIVE APPROXIMATION per document (four scans: DC and the full
    AC band at Al=1, then one-bit refinements to Al=0) — same image
    formula and geometry as the sequential/progressive synthesizers, so
    all three containers decode to the same closed-form stats."""
    encode_sa = _make_jpeg_codec().encode_gray_progressive_sa
    return _synthesize(docs, lambda d: encode_sa(*_gray_blocks(d)))


def decode_jpeg(media: DataFrame) -> DataFrame:
    """REAL baseline JPEG decode via mapInPandas — no imaging library:
    marker walk, canonical Huffman rebuild from the file's own DHT,
    MSB-first bit reading with 0xFF00 unstuffing, DC prediction, AC
    run/size with ZRL/EOB, dequantization, zigzag reorder, full 8x8
    float IDCT, level shift and clamp. GRAYSCALE stats only: the shared
    decoder underneath also handles color / subsampled / progressive
    payloads, so this operator VALIDATES the decoded frame is
    single-component and raises loudly on a color JPEG (whose per-pixel
    stats would otherwise silently average the flattened RGB planes) —
    route those to ``decode_jpeg_color``. Emits the standard image stats
    (single channel: mean_px)."""
    decode_frame = _make_jpeg_codec().decode

    def decode(d, buf):
        w, h, pixels, n_blocks = decode_frame(buf)
        img = np.array(pixels, dtype=np.int64)
        if img.ndim != 2:
            raise ValueError(
                f"decode_jpeg: doc {d} decoded to {img.ndim - 1}-channel "
                "pixels — this operator computes single-component "
                "(grayscale) stats; use decode_jpeg_color for color payloads"
            )
        return {
            "width": int(w), "height": int(h), "n_blocks": int(n_blocks),
            "pixels": img,
        }

    return _decode(media, decode, JPEG_FEATURES_SCHEMA)


JPEG_COLOR_FEATURES_SCHEMA = (
    "doc_id bigint, width int, height int, n_mcus int, mean_r double, "
    "mean_g double, mean_b double, top_row_sum bigint, byte_checksum bigint"
)


def synthesize_jpeg_color_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID baseline 4:4:4 YCbCr color JFIF
    per document — three interleaved components per MCU, separate
    luminance/chrominance quant + Huffman tables (the Annex-K pairs),
    per-component DC prediction. Y is piecewise-constant per block
    ((7*doc_id + 13*bx + 19*by) % 256); Cb and Cr are constant per doc
    ((5*doc_id) % 256 / (11*doc_id) % 256) — every block is DC-only
    under all-ones quant tables, so the codec is exact and the decoded
    RGB (including out-of-gamut CLAMPING after the YCbCr->RGB matrix)
    has a closed form the SQL oracle can state.
    w = 8*(1 + doc_id mod 2), h = 8*(1 + doc_id mod 3)."""
    encode_color = _make_jpeg_codec().encode_color

    def encode(d):
        bw, bh = 1 + d % 2, 1 + d % 3
        ys = [
            _dc_block((7 * d + 13 * bx + 19 * by) % 256)
            for by in range(bh)
            for bx in range(bw)
        ]
        cbs = [_dc_block((5 * d) % 256) for _ in ys]
        crs = [_dc_block((11 * d) % 256) for _ in ys]
        return encode_color(ys, cbs, crs, bw * 8, bh * 8)

    return _synthesize(docs, encode)


def synthesize_jpeg_420_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID baseline 4:2:0 YCbCr JFIF per
    document — Y at full resolution (four blocks per 16x16 MCU), Cb/Cr
    at quarter resolution. Y is piecewise-constant per 8x8 block
    ((11*doc_id + 23*bx + 31*by) % 256); chroma constant per doc, so
    the upsampling filter choice cannot affect the closed-form oracle.
    w = 16*(1 + doc_id mod 2), h = 16."""
    encode_color_420 = _make_jpeg_codec().encode_color_420

    def encode(d):
        w, h = 16 * (1 + d % 2), 16
        ys = [
            _dc_block((11 * d + 23 * bx + 31 * by) % 256)
            for by in range(h // 8)
            for bx in range(w // 8)
        ]
        n_mcus = (w // 16) * (h // 16)
        cbs = [_dc_block((7 * d) % 256) for _ in range(n_mcus)]
        crs = [_dc_block((13 * d) % 256) for _ in range(n_mcus)]
        return encode_color_420(ys, cbs, crs, w, h)

    return _synthesize(docs, encode)


def decode_jpeg_color(media: DataFrame) -> DataFrame:
    """REAL color JPEG decode via mapInPandas: everything the grayscale
    path does, plus multi-table DQT/DHT bookkeeping, the interleaved
    3-component MCU loop with per-component DC predictors, 4:2:0 and
    4:2:2 chroma upsampling, and the T.871 YCbCr->RGB conversion with
    half-up rounding and clamping."""
    decode_frame = _make_jpeg_codec().decode

    def decode(_d, buf):
        w, h, pixels, n_mcus = decode_frame(buf)
        return {
            "width": int(w), "height": int(h), "n_mcus": int(n_mcus),
            "pixels": pixels,  # (h, w, 3)
        }

    return _decode(media, decode, JPEG_COLOR_FEATURES_SCHEMA)


# ---- RIFF/AVI: Motion-JPEG video, optionally with a PCM audio track -------
#
# The RIFF chunk grammar (spoken by the WAV decoder above) composed with
# the baseline JPEG codec: Motion-JPEG is the one mainstream video format
# whose every byte this module produces and consumes without an external
# library.

MJPEG_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, n_frames int, width int, height int, "
    "mean_px double, top_row_sum bigint"
)


def _make_avi_codec():
    """Factory for the RIFF/AVI writer and reader (shipped by value)."""

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    def walk(buf: bytes, start: int, end: int):
        """Yield (fourcc, body_start, body_len) for chunks in [start, end)."""
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            yield buf[pos : pos + 4], pos + 8, size
            pos += 8 + size + (size % 2)  # word-aligned

    def write_avi(frames, w, h, audio=None, sample_rate=0):
        """RIFF/AVI bytes: stream 0 'vids'/'MJPG' carrying ``frames`` (JPEG
        files of w x h); with ``audio`` (one PCM16-mono chunk per frame),
        stream 1 'auds' whose '01wb' chunks follow each '00dc' (strict
        interleaving, the layout real muxers emit). The idx1 index lists
        every movi chunk."""
        n_frames = len(frames)
        buf_size = max(len(body) for body in [*frames, *(audio or [])])
        avih = struct.pack(
            "<IIIIIIIIII4I",
            40000, 0, 0, 0x10,  # usec/frame, maxbps, pad, HASINDEX
            n_frames, 0, 2 if audio else 1, buf_size, w, h, 0, 0, 0, 0,
        )
        strh_v = struct.pack(
            "<4s4sIHHIIIIIIII4h",
            b"vids", b"MJPG", 0, 0, 0, 0,
            1, 25, 0, n_frames, buf_size, 0xFFFFFFFF, 0,
            0, 0, w, h,
        )
        strf_v = struct.pack(
            "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
        )
        strls = lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v))
        if audio:
            n_samples = sum(len(a) for a in audio) // 2
            strh_a = struct.pack(
                "<4s4sIHHIIIIIIII4h",
                b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
                1, sample_rate, 0, n_samples, buf_size, 0xFFFFFFFF, 2,
                0, 0, 0, 0,
            )
            strf_a = struct.pack(
                "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
            )
            strls += lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a))
        movi = []
        for f, fr in enumerate(frames):
            movi.append((b"00dc", fr))
            if audio:
                movi.append((b"01wb", audio[f]))
        movi_body, idx1 = b"", b""
        for ck, body in movi:
            # idx1 offsets are relative to the 'movi' fourcc
            idx1 += ck + struct.pack("<III", 0x10, 4 + len(movi_body), len(body))
            movi_body += chunk(ck, body)
        riff_body = (
            b"AVI " + lst(b"hdrl", chunk(b"avih", avih) + strls)
            + lst(b"movi", movi_body) + chunk(b"idx1", idx1)
        )
        return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body

    def read_avi(buf):
        """Walk a RIFF/AVI file's chunk tree. Returns (avih, streams, movi,
        idx1): the ten avih uint32 fields (None when absent), one
        (strh, strf) body pair per stream (None when absent), the movi
        chunks as (fourcc, idx1-style offset, body), and the idx1 entries
        as (fourcc, flags, offset, size)."""
        if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI file")
        avih, streams, movi, idx1 = None, [], [], []
        for fourcc, at, size in walk(buf, 12, len(buf)):
            kind = buf[at : at + 4]
            if fourcc == b"LIST" and kind == b"hdrl":
                for fc2, at2, sz2 in walk(buf, at + 4, at + size):
                    if fc2 == b"avih":
                        avih = struct.unpack_from("<10I", buf, at2)
                    elif fc2 == b"LIST" and buf[at2 : at2 + 4] == b"strl":
                        parts = {
                            fc3: buf[at3 : at3 + sz3]
                            for fc3, at3, sz3 in walk(buf, at2 + 4, at2 + sz2)
                        }
                        streams.append((parts.get(b"strh"), parts.get(b"strf")))
            elif fourcc == b"LIST" and kind == b"movi":
                movi = [
                    (fc2, at2 - 8 - at, buf[at2 : at2 + sz2])
                    for fc2, at2, sz2 in walk(buf, at + 4, at + size)
                ]
            elif fourcc == b"idx1":
                idx1 = [
                    struct.unpack_from("<4sIII", buf, at + 16 * i)
                    for i in range(size // 16)
                ]
        return avih, streams, movi, idx1

    return write_avi, read_avi


def synthesize_avi_mjpeg_media(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary): a VALID RIFF/AVI Motion-JPEG file per
    document — 'RIFF..AVI ' with a real header tree (LIST hdrl: avih
    main header, LIST strl: strh 'vids'/'MJPG' + strf BITMAPINFOHEADER),
    a LIST movi of word-aligned '00dc' chunks each holding a COMPLETE
    baseline JFIF grayscale JPEG (really entropy-coded via
    _make_jpeg_codec's Annex-K encoder), and a standard idx1 index whose
    offsets/sizes the decoder cross-checks. Frame f is ``_gray_blocks(
    doc_id, f)``: block (bx, by) = (3*doc_id + 17*bx + 29*by + 41*f) %
    256, so the lossy codec is exact (DC-only blocks, all-ones quant
    table) and a closed-form SQL oracle can state every sampled frame's
    stats. Geometry matches the still-image family: w = 8*(1 + d mod 3),
    h = 8*(1 + d mod 2); n_frames = 3 + d mod 4."""
    encode_gray = _make_jpeg_codec().encode_gray
    write_avi, _ = _make_avi_codec()

    def encode(d):
        frames = [encode_gray(*_gray_blocks(d, f)) for f in range(3 + d % 4)]
        _, w, h = _gray_blocks(d)
        return write_avi(frames, w, h)

    return _synthesize(docs, encode)


def decode_avi_mjpeg(media: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL Motion-JPEG extraction: walk the RIFF chunk tree (no
    imaging/AV library), validate the AVI header chain (avih frame
    count + dims, strh fccType 'vids' handler 'MJPG', strf
    biCompression 'MJPG' with matching dims), collect the LIST movi's
    word-aligned '00dc' chunks, CROSS-CHECK every idx1 entry's
    offset/size against the chunks actually found, then decode every
    ``every_k``-th frame with the shared baseline-JPEG Huffman decoder
    and emit per-frame grayscale stats. Raises loudly on a broken
    container: bad magics, frame-count mismatch, idx1 disagreement,
    non-grayscale or wrong-geometry frames."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")
    decode_frame = _make_jpeg_codec().decode
    _, read_avi = _make_avi_codec()

    def decode(_d, buf):
        avih, streams, movi, idx1 = read_avi(buf)
        (riff_size,) = struct.unpack_from("<I", buf, 4)
        if 8 + riff_size != len(buf):
            raise ValueError("RIFF size does not match payload")
        if avih is None or not streams or any(None in s for s in streams):
            raise ValueError("missing AVI header chain")
        total, hdr_w, hdr_h = avih[4], avih[8], avih[9]
        for strh, strf in streams:
            if strh[:8] != b"vidsMJPG":
                raise ValueError("stream is not vids/MJPG")
            bi = struct.unpack_from("<IiiHH4s", strf)
            if bi[5] != b"MJPG":
                raise ValueError("strf biCompression != MJPG")
            if (bi[1], bi[2]) != (hdr_w, hdr_h):
                raise ValueError("strf dims disagree with avih")
        for ck, fl, _off, _sz in idx1:
            if ck != b"00dc" or not fl & 0x10:
                raise ValueError("unexpected idx1 entry")
        frames = [(off, body) for ck, off, body in movi if ck == b"00dc"]
        if len(frames) != total:
            raise ValueError(f"movi has {len(frames)} frames, avih says {total}")
        if [(off, sz) for _ck, _fl, off, sz in idx1] != [
            (off, len(body)) for off, body in frames
        ]:
            raise ValueError("idx1 disagrees with movi chunks")
        rows = []
        for f in range(0, total, every_k):
            w, h, pixels, _n = decode_frame(frames[f][1])
            img = np.array(pixels, dtype=np.int64)
            if img.ndim != 2:
                raise ValueError("MJPEG frame decoded non-grayscale")
            if (w, h) != (hdr_w, hdr_h):
                raise ValueError("frame dims disagree with avih")
            rows.append({
                "frame_idx": f, "n_frames": int(total),
                "width": int(w), "height": int(h), "pixels": img,
            })
        return rows

    return _decode(media, decode, MJPEG_FRAME_SCHEMA)


AVI_AV_SCHEMA = (
    "doc_id bigint, n_frames int, width int, height int, "
    "video_mean_px double, n_samples bigint, sample_rate int, "
    "audio_rms double"
)


def synthesize_avi_av_media(docs: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """(doc_id, payload binary): a VALID two-stream RIFF/AVI per document
    — stream 0 'vids'/'MJPG' (real baseline JPEGs, same block formula and
    geometry as ``synthesize_avi_mjpeg_media``), stream 1 'auds' PCM16
    mono (same sample formula as ``synthesize_wav_media``: sample j =
    ((31*doc_id + 17*j) mod 65536) - 32768, with 100 + d mod 50 samples
    PER FRAME) — with the movi chunks strictly INTERLEAVED
    ('00dc','01wb' per frame, the layout real muxers emit so players can
    stream) and an idx1 covering both streams. Exercises the demux a
    multimodal pipeline actually needs: routing chunk types to their
    stream decoders from one container walk."""
    encode_gray = _make_jpeg_codec().encode_gray
    write_avi, _ = _make_avi_codec()

    def encode(d):
        n_frames, n_per = 3 + d % 4, 100 + d % 50
        frames = [encode_gray(*_gray_blocks(d, f)) for f in range(n_frames)]
        audio = [_pcm16(d, f * n_per, n_per) for f in range(n_frames)]
        _, w, h = _gray_blocks(d)
        return write_avi(frames, w, h, audio, sample_rate)

    return _synthesize(docs, encode)


def demux_avi_av(media: DataFrame) -> DataFrame:
    """REAL two-stream AVI demux: one container walk routes '00dc'
    chunks to the baseline-JPEG decoder and '01wb' chunks to the PCM16
    parser, validating the full header chain (avih dwStreams=2, vids/MJPG
    strh+strf, auds strh + PCM16-mono WAVEFORMATEX), STRICT per-frame
    interleaving (video then audio, the muxer layout), and every idx1
    entry against the chunks found. Emits one row per document: video
    stats over ALL frames + audio stats over the concatenated track."""
    decode_frame = _make_jpeg_codec().decode
    _, read_avi = _make_avi_codec()

    def decode(_d, buf):
        avih, streams, movi, idx1 = read_avi(buf)
        rate = None
        for strh, strf in streams:
            if strh is None or strf is None:
                continue
            if strh[:4] == b"vids":
                if struct.unpack_from("<IiiHH4s", strf)[5] != b"MJPG":
                    raise ValueError("video strf is not MJPG")
            elif strh[:4] == b"auds":
                wf = struct.unpack_from("<HHIIHH", strf)
                if (wf[0], wf[1], wf[5]) != (1, 1, 16):
                    raise ValueError("audio strf is not PCM16 mono")
                rate = wf[2]
        for _ck, fl, _off, _sz in idx1:
            if not fl & 0x10:
                raise ValueError("unexpected idx1 flags")
        stream_types = [strh[:4] for strh, _ in streams if strh is not None]
        if stream_types != [b"vids", b"auds"] or avih is None or avih[6] != 2:
            raise ValueError("expected exactly vids+auds streams")
        total, hdr_w, hdr_h = avih[4], avih[8], avih[9]
        if rate is None:
            raise ValueError("missing AVI header chain")
        chunks = [c for c in movi if c[0] in (b"00dc", b"01wb")]
        if [(ck, off, sz) for ck, _fl, off, sz in idx1] != [
            (ck, off, len(body)) for ck, off, body in chunks
        ]:
            raise ValueError("idx1 disagrees with movi chunks")
        vid = [body for ck, _, body in chunks if ck == b"00dc"]
        aud = [body for ck, _, body in chunks if ck == b"01wb"]
        if len(vid) != total or len(aud) != total:
            raise ValueError(
                f"chunk counts {len(vid)}v/{len(aud)}a disagree "
                f"with avih total_frames={total}"
            )
        # strict muxer interleaving: 00dc, 01wb, 00dc, 01wb, ...
        if [c[0] for c in chunks] != [b"00dc", b"01wb"] * total:
            raise ValueError("movi chunks are not interleaved")
        px_sum, px_cnt = 0, 0
        for fr in vid:
            w, h, pixels, _n = decode_frame(fr)
            img = np.array(pixels, dtype=np.int64)
            if img.ndim != 2:
                raise ValueError("MJPEG frame decoded non-grayscale")
            if (w, h) != (hdr_w, hdr_h):
                raise ValueError("frame dims disagree with avih")
            px_sum += int(img.sum())
            px_cnt += img.size
        track = np.frombuffer(b"".join(aud), dtype="<i2")
        return {
            "n_frames": int(total), "width": int(hdr_w), "height": int(hdr_h),
            "video_mean_px": px_sum / px_cnt,
            "n_samples": int(track.size), "sample_rate": int(rate),
            "audio_rms": float(np.sqrt((track.astype(np.float64) ** 2).mean())),
        }

    return _decode(media, decode, AVI_AV_SCHEMA)
