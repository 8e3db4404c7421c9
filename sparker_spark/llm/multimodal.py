"""Multimodal-column plumbing (SURVEY §7.1 M8 / driver brief).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The Spark-side machinery — schemas, partition sizing,
Arrow-batched mapInPandas with bounded batch memory — is real and
tested; the codec step itself is stubbed behind ``DecodeRegistry``
(image/audio libraries are not in this container) with a deterministic
fake used by tests. Swapping in PIL/torchaudio later changes ONE
registry entry and nothing else.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def arrow_batch_rows(spark: SparkSession, rows: int):
    """Scope ``spark.sql.execution.arrow.maxRecordsPerBatch`` to a
    block, restoring the previous value on exit. The conf is read at
    ACTION time, not at DataFrame definition, so wrap the action::

        feats = extract_features(media)
        with arrow_batch_rows(spark, 64):
            feats.write.parquet(out)

    Without this, a small batch size set for binary payloads would
    degrade every later pandas exchange (toPandas, applyInPandas) in
    the session.
    """
    prev = spark.conf.get(_ARROW_BATCH_CONF, None)
    spark.conf.set(_ARROW_BATCH_CONF, str(int(rows)))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_ARROW_BATCH_CONF)
        else:
            spark.conf.set(_ARROW_BATCH_CONF, prev)

# canonical multimodal schema fragments
MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


class DecodeRegistry:
    """Pluggable decoders. The default is a deterministic fake (byte
    histogram as the 'feature') so the distributed plumbing is fully
    exercisable without codec libraries; real deployments register
    e.g. a PIL-based decoder under the same signature."""

    _decoders: dict[str, Callable[[bytes], list[float]]] = {}

    @classmethod
    def register(cls, mime_prefix: str, fn: Callable[[bytes], list[float]]):
        cls._decoders[mime_prefix] = fn

    @classmethod
    def decode(cls, mime: str, payload: bytes) -> list[float]:
        # longest matching prefix wins, so a specific decoder beats the
        # "" catch-all regardless of registration order
        best = None
        for prefix, fn in cls._decoders.items():
            if mime.startswith(prefix) and (
                best is None or len(prefix) > len(best[0])
            ):
                best = (prefix, fn)
        if best is not None:
            return best[1](payload)
        raise NotImplementedError(
            f"no decoder registered for mime {mime!r}; media codecs are "
            "stubbed in this environment — register one via "
            "DecodeRegistry.register()"
        )


def _fake_byte_histogram(payload: bytes) -> list[float]:
    """Deterministic stand-in feature: 16-bin byte histogram, L1-normed."""
    bins = [0] * 16
    for b in payload:
        bins[b >> 4] += 1
    total = max(sum(bins), 1)
    return [b / total for b in bins]


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary-PPM (P6) header: magic, whitespace/comment-
    separated width, height, maxval, one whitespace byte. Returns
    (width, height, maxval, raster_offset)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if not 0 < maxval <= 255:
        # maxval > 255 means TWO bytes per sample (big-endian) — this
        # dependency-free codec handles the 1-byte variant only, and
        # reading a 16-bit raster as uint8 would silently corrupt the
        # pixels rather than fail
        raise ValueError(
            f"unsupported PPM maxval {maxval}: only 8-bit (maxval <= 255) "
            "binary PPM is supported"
        )
    return width, height, maxval, pos + 1  # single whitespace after maxval


def decode_ppm(payload: bytes) -> list[float]:
    """Real (dependency-free) image decoder for binary PPM (P6).

    Parses the netpbm header and returns
    ``[width, height, mean_r, mean_g, mean_b]`` with means normalized
    to [0, 1]. Proves the ``DecodeRegistry`` plug point with an actual
    codec: registering it routes ``image/x-portable-pixmap`` payloads
    through a real parse while every other mime keeps its registered
    behavior.
    """
    width, height, maxval, pos = _ppm_header(payload)
    n_px = width * height
    raster = payload[pos : pos + 3 * n_px]
    if len(raster) < 3 * n_px:
        raise ValueError("truncated PPM raster")
    sums = [0, 0, 0]
    for i in range(0, 3 * n_px, 3):
        sums[0] += raster[i]
        sums[1] += raster[i + 1]
        sums[2] += raster[i + 2]
    denom = float(max(n_px, 1) * maxval)
    return [
        float(width),
        float(height),
        sums[0] / denom,
        sums[1] / denom,
        sums[2] / denom,
    ]


def decode_wav(payload: bytes) -> list[float]:
    """Real (dependency-free) audio decoder for PCM WAV (RIFF).

    Parses the RIFF/WAVE chunk structure — fmt (PCM code, channels,
    sample rate, bits per sample) and data — and returns
    ``[n_channels, sample_rate, duration_s, mean_abs_amplitude]`` with
    amplitude normalized to [0, 1] (8-bit unsigned and 16-bit signed
    little-endian PCM supported). The audio twin of decode_ppm: a real
    codec through the same DecodeRegistry plug point.
    """
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate = struct.unpack("<HHI", fmt[:8])
    bits = struct.unpack("<H", fmt[14:16])[0]
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    bytes_per_sample = bits // 8
    n_frames = len(data) // (bytes_per_sample * n_channels)
    n_samples = n_frames * n_channels
    if n_samples == 0:
        return [float(n_channels), float(sample_rate), 0.0, 0.0]
    total = 0.0
    if bits == 8:  # unsigned, midpoint 128
        for b in data[: n_samples]:
            total += abs(b - 128) / 127.0
    else:
        for (v,) in struct.iter_unpack("<h", data[: 2 * n_samples]):
            total += abs(v) / 32768.0
    return [
        float(n_channels),
        float(sample_rate),
        n_frames / float(sample_rate),
        total / n_samples,
    ]


# ------------------------------------------------------------- PNG
# Real-world image format, decoded with stdlib zlib + numpy only (no
# pillow in this container). Coverage: 8-bit depth, color types
# 0/2/3/4/6 (gray, RGB, palette, gray+alpha, RGBA), all five scanline
# filters, multi-IDAT. Rejected clearly: other bit depths, Adam7
# interlace (raise, never silently corrupt).

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes):
    """Yield (type, body) for each chunk; validates the magic."""
    import struct

    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        # bounds-check the declared size so a corrupt length reports
        # "truncated PNG" here instead of surfacing later as an opaque
        # zlib error on a silently short IDAT body
        if pos + 12 + size > len(payload):
            raise ValueError(
                f"truncated PNG: chunk {ctype!r} declares {size} bytes "
                f"but only {len(payload) - pos - 12} remain"
            )
        body = payload[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack(">I", payload[pos + 8 + size : pos + 12 + size])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} fails CRC")
        yield ctype, body
        pos += 12 + size  # size + type + crc
        if ctype == b"IEND":
            return
    raise ValueError("truncated PNG (no IEND)")


def _png_unfilter(raw: bytes, width: int, height: int, channels: int):
    """Reverse the PNG scanline filters -> (height, stride) uint8.

    Rows are sequential by construction (each references the previous
    reconstructed row). Within a row: None/Up are whole-row vector
    ops; Sub is a per-channel-phase cumulative sum (np.cumsum's uint8
    wraparound IS the mod-256 the spec wants); Average/Paeth carry a
    left-neighbor dependency and fall back to a per-byte loop — zlib
    inflate (C) dominates decode time regardless.
    """
    import numpy as np

    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes, data = arr[:, 0], arr[:, 1:]
    recon = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    for y in range(height):
        ft, row = int(ftypes[y]), data[y].copy()
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for c in range(bpp):
                np.cumsum(row[c::bpp], dtype=np.uint8, out=row[c::bpp])
        elif ft == 2:  # Up
            row += prev
        elif ft == 3:  # Average
            r = row.astype(np.int32)
            p = prev.astype(np.int32)
            for x in range(stride):
                left = int(r[x - bpp]) if x >= bpp else 0
                r[x] = (r[x] + ((left + p[x]) >> 1)) & 0xFF
            row = r.astype(np.uint8)
        elif ft == 4:  # Paeth
            r = row.astype(np.int32)
            p = prev.astype(np.int32)
            for x in range(stride):
                a = int(r[x - bpp]) if x >= bpp else 0
                b = int(p[x])
                c = int(p[x - bpp]) if x >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r[x] = (r[x] + pred) & 0xFF
            row = r.astype(np.uint8)
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        recon[y] = row
        prev = recon[y]
    return recon


def _png_decode_rgb(payload: bytes):
    """PNG payload -> (height, width, 3) uint8 RGB array (alpha
    dropped, palette expanded, gray replicated)."""
    import struct
    import zlib

    import numpy as np

    ihdr = None
    plte = None
    idat = bytearray()
    for ctype, body in _png_chunks(payload):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.extend(body)
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, ctype_, comp, filt, interlace = ihdr
    # header validity first: "unsupported depth" is the useful error
    # for a 16-bit file even when its IDAT is also absent/garbled
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (8 only)")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG not supported")
    if comp != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    if ctype_ not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype_}")
    if not idat:
        raise ValueError("PNG missing IDAT")
    channels = _PNG_CHANNELS[ctype_]
    recon = _png_unfilter(
        zlib.decompress(bytes(idat)), width, height, channels
    ).reshape(height, width, channels)
    if ctype_ == 2:
        return recon
    if ctype_ == 6:
        return recon[:, :, :3].copy()
    if ctype_ == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        return pal[recon[:, :, 0]]
    gray = recon[:, :, 0]  # 0 (gray) / 4 (gray+alpha)
    return np.repeat(gray[:, :, None], 3, axis=2)


def _png_encode_rgb(img) -> bytes:
    """(h, w, 3) uint8 -> PNG bytes (color type 2, filter 0 rows)."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape[0], img.shape[1]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raster = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), img.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> list[float]:
    """Real PNG image decoder (stdlib zlib + numpy): same feature
    contract as :func:`decode_ppm` —
    ``[width, height, mean_r, mean_g, mean_b]``, means in [0, 1]."""
    img = _png_decode_rgb(payload)
    h, w = img.shape[0], img.shape[1]
    means = img.reshape(-1, 3).mean(axis=0) / 255.0
    return [float(w), float(h), float(means[0]), float(means[1]), float(means[2])]


def decode_jpeg(payload: bytes) -> list[float]:
    """JPEG image decoder: the builtin codec (llm/jpeg.py — stdlib +
    numpy, no pillow needed) first, covering baseline/extended
    sequential AND progressive (SOF2); pillow, when installed, as the
    fallback for the variants the builtin rejects (12-bit, CMYK,
    arithmetic coding). Registration is unconditional because the
    builtin path really decodes — sequential + progressive is
    essentially all of the real JPEG web corpus — and an unsupported
    variant raises an error naming the exact missing capability rather
    than silently routing through the fake histogram."""
    import numpy as np

    from sparker_spark.llm import jpeg

    try:
        img = jpeg.decode(payload)
    except ValueError as builtin_err:
        try:
            from PIL import Image  # noqa: PLC0415 — optional dependency
        except ImportError:
            raise NotImplementedError(
                f"builtin baseline JPEG codec rejected payload "
                f"({builtin_err}); install pillow for non-baseline "
                "variants"
            ) from builtin_err
        import io

        img = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    if img.shape[2] == 1:  # grayscale: report the mean on all channels
        img = np.repeat(img, 3, axis=2)
    h, w = img.shape[0], img.shape[1]
    means = img.reshape(-1, 3).mean(axis=0) / 255.0
    return [float(w), float(h), float(means[0]), float(means[1]), float(means[2])]


DecodeRegistry.register("", _fake_byte_histogram)  # default fallback
DecodeRegistry.register("image/x-portable-pixmap", decode_ppm)
DecodeRegistry.register("image/png", decode_png)
DecodeRegistry.register("image/jpeg", decode_jpeg)
DecodeRegistry.register("audio/wav", decode_wav)


def extract_features(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    mime_col: str = "mime",
    batch_rows: int = 64,
) -> DataFrame:
    """Decode/feature-extract over binary media columns via Arrow-batched
    mapInPandas.

    Batch memory is bounded two ways: the UDF re-slices every incoming
    pandas batch into ``batch_rows`` chunks (bounding the per-chunk
    working set and the OUTPUT Arrow batches), and callers bound the
    INPUT Arrow batches by wrapping the action in
    :func:`arrow_batch_rows` — a conf set inside this builder would be
    a session-wide side effect (and a set-then-restore here would be a
    no-op, since the conf is read at action time).

    ``n_bytes``/``content_hash`` are computed with vectorized pandas
    ops; the only per-row Python is the (inherently per-payload)
    ``DecodeRegistry.decode`` call.
    """

    def run(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                payloads = chunk[payload_col].map(
                    lambda p: bytes(p) if p is not None else b""
                )
                mimes = chunk[mime_col].map(lambda m: str(m or ""))
                yield pd.DataFrame(
                    {
                        "media_id": chunk[id_col].astype("int64"),
                        "n_bytes": payloads.map(len).astype("int64"),
                        "content_hash": payloads.map(
                            lambda p: hashlib.md5(p).hexdigest()
                        ),
                        "feature": [
                            DecodeRegistry.decode(m, p)
                            for m, p in zip(mimes, payloads)
                        ],
                    }
                )

    cols = media.select(id_col, payload_col, mime_col)
    return cols.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
    batch_rows: int = 64,
) -> DataFrame:
    """Real decode → transform → re-encode over binary image columns:
    nearest-neighbor resize of binary-PPM (P6), PNG and baseline-JPEG
    payloads, numpy-vectorized inside Arrow-batched mapInPandas. The
    format is sniffed from the payload magic and PRESERVED on output
    (PPM in → PPM out, PNG in → PNG out, JPEG in → JPEG q90 out).

    Per payload: decode to an (h, w, 3) uint8 array (PPM:
    ``np.frombuffer`` over the raster, zero-copy; PNG:
    ``_png_decode_rgb``), gather the target grid with two integer
    index vectors (the classic nearest-neighbor sample — pure
    vectorized fancy-indexing, no Python pixel loop), and re-encode.
    Output rows: (media_id, payload, width, height). The same
    ``batch_rows`` re-slicing as :func:`extract_features` bounds the
    per-chunk working set; wrap the ACTION in :func:`arrow_batch_rows`
    to bound input Arrow batches when payloads are large.

    This is the plumbing pattern for any per-item media transform at
    scale (resize / crop / re-encode): row-parallel, codec-local,
    no driver involvement. Swap the codecs for PIL/libvips by
    replacing the parse/encode pairs only.
    """
    tw, th = int(width), int(height)
    if tw <= 0 or th <= 0:
        raise ValueError("target width/height must be positive")

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def one(payload) -> tuple[bytes, int, int]:
            p = bytes(payload)
            if p[:8] == _PNG_MAGIC:
                img = _png_decode_rgb(p)
                return _png_encode_rgb(_nn_resize(img, tw, th)), tw, th
            if p[:2] == b"\xff\xd8":
                from sparker_spark.llm import jpeg

                img = jpeg.decode(p)
                if img.shape[2] == 1:
                    img = np.repeat(img, 3, axis=2)
                return (
                    jpeg.encode(_nn_resize(img, tw, th), quality=90),
                    tw,
                    th,
                )
            w, h, maxval, off = _ppm_header(p)
            raster = np.frombuffer(p, dtype=np.uint8, count=3 * w * h, offset=off)
            img = raster.reshape(h, w, 3)
            header = f"P6\n{tw} {th}\n{maxval}\n".encode("ascii")
            return header + _nn_resize(img, tw, th).tobytes(), tw, th

        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                resized = [one(p) for p in chunk[payload_col]]
                yield pd.DataFrame(
                    {
                        "media_id": chunk[id_col].astype("int64"),
                        "payload": [r[0] for r in resized],
                        "width": [r[1] for r in resized],
                        "height": [r[2] for r in resized],
                    }
                )

    return media.select(id_col, payload_col).mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def frame_sample_plan(
    media: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
) -> DataFrame:
    """Expand each video row into (media_id, frame_ts_ms) sampling rows
    using metadata only — pure column expressions, no decode. The
    downstream decoder consumes (media_id, frame_ts_ms) work units, so
    frame extraction parallelism is row-level, not file-level."""
    return media.select(
        F.col(id_col).alias("media_id"),
        F.explode(
            F.expr(
                f"CASE WHEN meta.duration_ms >= {every_ms} THEN "
                f"sequence(0L, meta.duration_ms - 1, CAST({every_ms} AS BIGINT)) "
                f"ELSE array(0L) END"
            )
        ).alias("frame_ts_ms"),
    )


def _nn_resize(img, tw: int, th: int):
    """Nearest-neighbor resample to (th, tw) with the integer grid
    ``(arange(target)·src)//target`` — the ONE resize convention the
    value-hash gates pin."""
    import numpy as np

    ys = (np.arange(th) * img.shape[0]) // th
    xs = (np.arange(tw) * img.shape[1]) // tw
    return np.ascontiguousarray(img[ys][:, xs])
