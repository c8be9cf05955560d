"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) and the DECODE are real and tested: pure-stdlib codecs for PPM
(P6 header + raw RGB), BMP (24-bit uncompressed BITMAPINFOHEADER, bottom-up
row order + 4-byte row padding), WAV (RIFF via the stdlib ``wave`` module,
8/16-bit PCM), and a concatenated-P6 frame stream standing in for video
containers (real frame parsing; ffmpeg-class containers stay out of scope
in this image — the reference analog is S5 sync OCR of jpg/png,
lib/text-extractor.ts:155-181).
Features are real pixel/sample statistics (quadrant channel means, segment
amplitudes). Bytes that are not one of these containers decode to a
per-row error.

Scale notes: media rows are processed by ``mapInPandas`` with the session's
Arrow batch cap, so a partition of 100 MB blobs streams through bounded
batches; features come out as ``array<float>`` columns that feed
operators/similarity.py unchanged.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = (
    "media_ref string, doc_id string, media_type string, width int, height int, "
    "n_frames int, feature array<float>, error string"
)

FEATURE_DIM = 16


# ---------------------------------------------------------------------------
# Pure-stdlib codecs (encode for fixtures, decode for the real path)
# ---------------------------------------------------------------------------


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255). ``rgb`` is width*height*3 bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def decode_ppm(content: bytes, offset: int = 0) -> tuple[int, int, bytes, int]:
    """Parse one P6 image starting at ``offset``; returns (width, height,
    rgb, next_offset). Handles whitespace runs and ``#`` comments in the
    header, as the format allows."""
    if content[offset : offset + 2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos = offset + 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and comment lines
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    if width <= 0 or height <= 0:
        # same guard class as decode_bmp: negative dims would otherwise
        # "succeed" with garbage ((-1)*(-1)*3 = 3 bytes) — an error row,
        # never a silent nonsense row
        raise ValueError("invalid PPM dimensions")
    n = width * height * 3
    rgb = content[pos : pos + n]
    if len(rgb) != n:
        raise ValueError("truncated PPM pixel data")
    return width, height, rgb, pos + n


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up rows, 4-byte
    row padding). ``rgb`` is top-down width*height*3 RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != width*height*3")
    row_size = (width * 3 + 3) & ~3
    img = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            i = (y * width + x) * 3
            row += bytes((rgb[i + 2], rgb[i + 1], rgb[i]))  # BGR
        row += b"\x00" * (row_size - len(row))
        img += row
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return bytes(header) + bytes(img)


def decode_bmp(content: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24-bit BMP; returns (width, height, top-down
    RGB bytes). Supports positive (bottom-up) and negative (top-down)
    heights per the BITMAPINFOHEADER spec."""
    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    width, height_raw = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    top_down = height_raw < 0
    height = abs(height_raw)
    row_size = (width * 3 + 3) & ~3
    # validate the claimed dimensions against the actual payload BEFORE
    # allocating width*height*3 bytes: a corrupt header claiming 60000x60000
    # would otherwise commit a multi-GB zero-filled buffer and OOM the
    # Python worker — a crash, not the per-row error the poison-blob
    # discipline promises
    if width <= 0 or height == 0:
        raise ValueError("invalid BMP dimensions")
    if data_offset + height * row_size > len(content):
        raise ValueError("truncated BMP pixel data for claimed dimensions")
    rgb = bytearray(width * height * 3)
    for row_no in range(height):
        y = row_no if top_down else height - 1 - row_no
        base = data_offset + row_no * row_size
        for x in range(width):
            b, g, r = content[base + x * 3 : base + x * 3 + 3]
            i = (y * width + x) * 3
            rgb[i : i + 3] = bytes((r, g, b))
    return width, height, bytes(rgb)


def encode_wav(samples: list[int]) -> bytes:
    """16-bit PCM WAV at 8 kHz from integer samples (mono)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def decode_wav(content: bytes) -> tuple[int, int, list[float]]:
    """Parse a PCM WAV; returns (duration_ms, n_samples, normalized mono
    samples in [-1, 1])."""
    with wave.open(io.BytesIO(content), "rb") as w:
        nch, sampwidth, framerate = w.getnchannels(), w.getsampwidth(), w.getframerate()
        n = w.getnframes()
        raw = w.readframes(n)
    if sampwidth == 1:  # unsigned 8-bit
        vals = [(b - 128) / 128.0 for b in raw]
    elif sampwidth == 2:
        vals = [v / 32768.0 for (v,) in struct.iter_unpack("<h", raw)]
    else:
        raise ValueError("only 8/16-bit PCM supported")
    if nch > 1:  # average channels to mono
        vals = [sum(vals[i : i + nch]) / nch for i in range(0, len(vals), nch)]
    duration_ms = int(n * 1000 / framerate) if framerate else 0
    return duration_ms, n, vals


def _image_features(width: int, height: int, rgb: bytes) -> list[float]:
    """16 real pixel statistics: per-quadrant RGB means (12) + global
    R/G/B/luma means, all normalized to [0, 1]."""
    sums = [[0, 0, 0], [0, 0, 0], [0, 0, 0], [0, 0, 0]]
    counts = [0, 0, 0, 0]
    gsum = [0, 0, 0]
    for y in range(height):
        for x in range(width):
            i = (y * width + x) * 3
            q = (2 if y * 2 >= height else 0) + (1 if x * 2 >= width else 0)
            counts[q] += 1
            for c in range(3):
                sums[q][c] += rgb[i + c]
                gsum[c] += rgb[i + c]
    n = width * height
    feats: list[float] = []
    for q in range(4):
        cq = max(counts[q], 1)
        feats.extend(sums[q][c] / cq / 255.0 for c in range(3))
    gr, gg, gb = (gsum[c] / n / 255.0 for c in range(3))
    feats.extend([gr, gg, gb, 0.299 * gr + 0.587 * gg + 0.114 * gb])
    return feats


def _audio_features(vals: list[float]) -> list[float]:
    """16 mean-absolute-amplitude segment statistics."""
    if not vals:
        return [0.0] * FEATURE_DIM
    seg = max(len(vals) // FEATURE_DIM, 1)
    feats = []
    for i in range(FEATURE_DIM):
        chunk = vals[i * seg : (i + 1) * seg] or [0.0]
        feats.append(sum(abs(v) for v in chunk) / len(chunk))
    return feats


def _real_decode(content: bytes, media_type: str) -> dict:
    """Real pure-stdlib decode, dispatched on magic bytes: P6 PPM / 24-bit
    BMP images, PCM WAV audio, and concatenated-P6 streams as the video
    container (every frame header+pixel parsed; features from frame 0).
    The decoded container must agree with the row's declared media_type
    (P6 streams may be image or video) — a mislabeled blob raises rather
    than silently handing, say, pixel statistics to an audio consumer.
    Raises ValueError on bytes that are not one of the supported
    containers — the caller routes those rows to the error column, the
    poison-document discipline of plans/pipeline.py."""

    def _check_type(decoded_kinds: tuple[str, ...]) -> None:
        if media_type not in decoded_kinds:
            raise ValueError(
                f"declared media_type {media_type!r} but content decodes as "
                f"{'/'.join(decoded_kinds)}"
            )

    if content[:2] == b"P6":
        _check_type(("image", "video"))
        frames = []
        off = 0
        while off < len(content) and content[off : off + 2] == b"P6":
            width, height, rgb, off = decode_ppm(content, off)
            frames.append((width, height, rgb))
        if off < len(content):
            # a partially-consumed stream (corrupt later frame magic /
            # trailing garbage) must surface as an error row, not a
            # silent undercounted n_frames
            raise ValueError(
                f"trailing non-P6 bytes at offset {off} in P6 stream"
            )
        width, height, rgb = frames[0]
        return {
            "width": width,
            "height": height,
            "n_frames": len(frames),
            "feature": _image_features(width, height, rgb),
        }
    if content[:2] == b"BM":
        _check_type(("image",))
        width, height, rgb = decode_bmp(content)
        return {
            "width": width,
            "height": height,
            "n_frames": 1,
            "feature": _image_features(width, height, rgb),
        }
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        _check_type(("audio",))
        duration_ms, n_samples, vals = decode_wav(content)
        return {
            "width": 0,
            "height": 0,
            "n_frames": n_samples,
            "feature": _audio_features(vals),
        }
    raise ValueError(
        f"unsupported container for {media_type}: magic {content[:4]!r}"
    )


def decode_media(df: DataFrame) -> DataFrame:
    """(media rows) -> decoded metadata + feature vectors, Arrow-batched:
    true pixel/sample statistics from the real codecs, and bytes that are
    not valid containers degrade to per-row errors."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, doc_id, mtype, content in zip(
                pdf["media_ref"], pdf["doc_id"], pdf["media_type"], pdf["content"]
            ):
                row = {
                    "media_ref": ref,
                    "doc_id": doc_id,
                    "media_type": mtype,
                    "width": None,
                    "height": None,
                    "n_frames": None,
                    "feature": None,
                    "error": None,
                }
                try:
                    d = _real_decode(bytes(content) if content is not None else b"", mtype)
                    row.update(
                        {k: d[k] for k in ("width", "height", "n_frames")},
                        feature=d["feature"],
                    )
                except Exception as e:  # noqa: BLE001 — poison-blob guard
                    # one malformed blob must not fail a 10^12-row job:
                    # degrade to an error row (plans/pipeline.py discipline)
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "doc_id", "media_type", "width", "height",
                    "n_frames", "feature", "error",
                ],
            )

    return df.select("media_ref", "doc_id", "media_type", "content").mapInPandas(
        _run, DECODED_SCHEMA
    )


def frame_sample(decoded: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame sampling plan for video rows: one row per kept frame index —
    pure relational explode (the decode of each frame stays in the codec
    UDF)."""
    from pyspark.sql import functions as F

    return decoded.where(F.col("media_type") == "video").select(
        "media_ref",
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def resize_plan(decoded: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize metadata computation (aspect-preserving target dims) — the
    arithmetic is JVM-side; actual pixel work would live in the codec UDF.
    Only rows with positive width and height get targets: audio decodes to
    0x0 and error rows to null, and a 0 divisor fails the query under ANSI
    mode."""
    from pyspark.sql import functions as F

    side = F.greatest(F.col("width"), F.col("height"))
    scale = F.when(
        (F.col("width") > 0) & (F.col("height") > 0),
        F.least(F.lit(1.0), F.lit(max_side) / side.cast("double")),
    )
    return decoded.select(
        "media_ref",
        "doc_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("target_w"),
        F.round(F.col("height") * scale).cast("int").alias("target_h"),
    )


def _synth_rgb(seed: str, width: int, height: int) -> bytes:
    """Deterministic pixel bytes: a sha256 stream keyed on ``seed``."""
    out = bytearray()
    counter = 0
    need = width * height * 3
    while len(out) < need:
        out += hashlib.sha256(f"{seed}:{counter}".encode()).digest()
        counter += 1
    return bytes(out[:need])


def synth_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic media fixture rows holding VALID containers (PPM/BMP
    images, PCM WAV audio, concatenated-P6 video)."""
    rows = []
    for i in range(n):
        mtype = ["image", "audio", "video"][i % 3]
        w, h = 8 + i % 5, 6 + i % 4
        if mtype == "image":
            rgb = _synth_rgb(f"media-{i}", w, h)
            content = encode_ppm(w, h, rgb) if i % 2 == 0 else encode_bmp(w, h, rgb)
            mime = "image/x-portable-pixmap" if i % 2 == 0 else "image/bmp"
        elif mtype == "audio":
            raw = hashlib.sha256(f"media-{i}".encode()).digest() * 8
            samples = [
                struct.unpack_from(">h", raw, 2 * j)[0] for j in range(len(raw) // 2)
            ]
            content = encode_wav(samples)
            mime = "audio/wav"
        else:
            content = b"".join(
                encode_ppm(w, h, _synth_rgb(f"media-{i}-f{f}", w, h))
                for f in range(1 + i % 4)
            )
            mime = "video/x-ppm-stream"
        rows.append(
            (
                f"m-{i:04d}",
                hashlib.sha256(f"doc-{i % 16}".encode()).hexdigest(),
                mtype,
                content,
                {"mime": mime, "width": None, "height": None, "duration_ms": None},
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
