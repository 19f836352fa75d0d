"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a typed
metadata struct; decode runs as Arrow-batched pandas functions over
``mapInPandas``, and frame sampling is a pure-SQL manifest. Decoder
tiers:

- ``decoder='ppm'`` — a REAL codec, dependency-free: binary PPM (P6) /
  PGM (P5) parsed with numpy (header parse including comments, pixel
  decode). Proves the decode path end to end on an actual image
  format.
- ``decoder='jpeg'`` — a REAL compressed codec, dependency-free:
  baseline JPEG (SOF0, canonical Huffman, dequant + IDCT, YCbCr)
  implemented in pure numpy (my_weather_spark.llm.jpeg). Grayscale and
  4:4:4 color; progressive/subsampled files raise NotImplementedError
  naming the feature.
- ``decoder='fake'`` — deterministic synthetic decode so batch
  shape/schema/partitioning are exercised on arbitrary payload bytes.
- ``decoder='real'`` — the Pillow/ffmpeg call site for the remaining
  compressed formats (mp3/h264), which are NOT available in this
  environment: raises NotImplementedError at the exact line the codec
  call belongs.

Scale notes (100 TB): payloads stay in executor memory only for the
duration of one Arrow batch (bounded by
spark.sql.execution.arrow.maxRecordsPerBatch); decode is a narrow map
— no shuffle; downstream feature columns are small, so write
feature tables separately from payload tables and join on asset_id
(payload tables are scanned only by the decode pass).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata for an opaque media payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_channels", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_s", T.DoubleType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "asset_id long, byte_len int, sha1 string, mean_intensity double, "
    "width int, height int"
)


# ---------------------------------------------------------------------------
# PPM/PGM (netpbm binary) codec — pure numpy, no external library.
# P6 = RGB (3 channels), P5 = grayscale (1 channel), maxval <= 255.

def decode_ppm(b: bytes):
    """P5/P6 bytes -> uint8 array (h, w) or (h, w, 3). Handles
    whitespace runs and ``#`` comments in the header per the netpbm
    spec; raises ValueError on anything else (the caller decides
    whether a corrupt payload fails the batch or is filtered first).
    """
    import numpy as np

    b = bytes(b)
    if b[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM payload")
    channels = 3 if b[:2] == b"P6" else 1
    # header = magic + 3 ints (w, h, maxval) separated by whitespace,
    # with optional '#...' comments; one whitespace byte ends it
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated netpbm header")
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace byte after maxval
    w, h, maxval = fields
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported maxval {maxval}")
    n = w * h * channels
    data = np.frombuffer(b, dtype=np.uint8, count=n, offset=pos)
    if data.size < n:
        raise ValueError("truncated pixel data")
    return data.reshape((h, w, 3) if channels == 3 else (h, w))


def media_ppm_from_documents(docs: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """Media table whose payloads are REAL P6 images: each document's
    utf-8 bytes tiled to exactly width*height*3 pixel bytes under a
    valid netpbm header — deterministic, decodable by any PPM reader."""
    out_len = width * height * 3
    header = f"P6\n{width} {height}\n255\n".encode()
    # tile the text to >= out_len CHARS (rpad guards empty text), then
    # truncate the utf-8 BYTES to exactly out_len — chars <= bytes, so
    # out_len chars always yield enough bytes (substring slices binary)
    reps = F.greatest(
        (F.lit(out_len) / F.greatest(F.length("text"), F.lit(1))).cast("int") + 1,
        F.lit(1),
    )
    body = F.substring(
        F.encode(F.rpad(F.repeat(F.col("text"), reps), out_len, "x"), "utf-8"),
        1,
        out_len,
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(F.lit(header), body).alias("payload"),
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(3).alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("double").alias("duration_s"),
            F.lit("image/x-portable-pixmap").alias("codec"),
        ).alias("meta"),
    )


def media_jpeg_from_documents(
    docs: DataFrame, width: int = 16, height: int = 16, quality: int = 50
) -> DataFrame:
    """Media table whose payloads are REAL baseline JPEGs: one uniform
    grayscale image per document, gray value (n_chars*7 + doc_id*13)
    % 256 — deterministic, decodable by any JPEG reader, and (because
    the image is uniform and quality 50 puts q00 = 16, a multiple
    of 8) the decoded intensity is exactly floor(Q*16/8 + 0.5) + 128
    with Q = floor(8*(v-128)/16 + 0.5), clamped — an identity a SQL
    oracle replays without running Huffman or the IDCT (see
    my_weather_spark.llm.jpeg's rounding contract)."""

    def _jpegify(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        from my_weather_spark.llm.jpeg import encode_jpeg

        # synthesis-side memo: only 256 distinct gray values exist, so
        # encode each once per task. This caches test-data CONSTRUCTION
        # only — the decode under test still runs per row.
        memo: dict[int, bytes] = {}

        def enc(v: int) -> bytes:
            b = memo.get(v)
            if b is None:
                b = memo[v] = encode_jpeg(
                    np.full((height, width), v, dtype=np.uint8), quality
                )
            return b

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": [enc(int(v)) for v in pdf["_v"]],
                }
            )

    base = docs.select(
        F.col("doc_id").alias("asset_id"),
        ((F.col("n_chars") * 7 + F.col("doc_id") * 13) % 256).alias("_v"),
    )
    enc = base.mapInPandas(_jpegify, schema="asset_id long, payload binary")
    return enc.select(
        "asset_id",
        F.lit("image").alias("media_type"),
        "payload",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.lit(1).alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("double").alias("duration_s"),
            F.lit("image/jpeg").alias("codec"),
        ).alias("meta"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from the documents table: the
    text bytes stand in for an encoded payload (deterministic)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(3).alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("double").alias("duration_s"),
            F.lit("fake/raw").alias("codec"),
        ).alias("meta"),
    )


def decode_image_features(df: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode payloads -> per-asset image features via mapInPandas.

    ``ppm``: REAL decode (netpbm P5/P6, pure numpy) — mean intensity
    over actual pixels, width/height read from the payload header.
    ``jpeg``: REAL decode of baseline JPEG (full entropy + IDCT path,
    my_weather_spark.llm.jpeg) — same feature columns.
    ``fake``: deterministic pseudo-decode (sha1 + byte statistics) so
    batch shape/schema are exercised without a codec library.
    ``real``: the Pillow/libjpeg call site — NotImplementedError here.
    """
    if decoder not in ("ppm", "jpeg", "fake", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if decoder == "real":
                raise NotImplementedError(
                    "real image decode requires Pillow/libjpeg — not available "
                    "in this environment; plug the codec call here"
                )
            payloads = pdf["payload"]
            # NULL payloads (never-fetched assets) yield NULL-feature
            # rows instead of crashing the whole Arrow batch — the same
            # contract in every tier.
            if decoder in ("ppm", "jpeg"):
                if decoder == "jpeg":
                    from my_weather_spark.llm.jpeg import decode_jpeg as _dec
                else:
                    _dec = decode_ppm
                decoded = [None if b is None else _dec(b) for b in payloads]
                out = pd.DataFrame(
                    {
                        "asset_id": pdf["asset_id"],
                        "byte_len": [
                            None if b is None else len(b) for b in payloads
                        ],
                        "sha1": [
                            None
                            if b is None
                            else hashlib.sha1(bytes(b)).hexdigest()
                            for b in payloads
                        ],
                        # full precision — Python round() is banker's,
                        # which disagrees with SQL HALF_UP on ties;
                        # callers round JVM-side (F.round) if needed
                        "mean_intensity": [
                            None if a is None else float(np.mean(a))
                            for a in decoded
                        ],
                        "width": [
                            None if a is None else a.shape[1] for a in decoded
                        ],
                        "height": [
                            None if a is None else a.shape[0] for a in decoded
                        ],
                    }
                )
                yield out
                continue
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "byte_len": [None if b is None else len(b) for b in payloads],
                    "sha1": [
                        None if b is None else hashlib.sha1(bytes(b)).hexdigest()
                        for b in payloads
                    ],
                    # fake "mean pixel": mean byte value of the payload
                    "mean_intensity": [
                        None
                        if b is None
                        else (round(sum(b) / len(b), 6) if len(b) else 0.0)
                        for b in payloads
                    ],
                    "width": pdf["meta"].map(lambda m: m["width"]).astype("int32"),
                    "height": pdf["meta"].map(lambda m: m["height"]).astype("int32"),
                }
            )
            yield out

    return df.select("asset_id", "payload", "meta").mapInPandas(
        _decode, schema=IMAGE_FEATURES_SCHEMA
    )


def frame_sample_manifest(
    df: DataFrame, every_n_seconds: float = 1.0
) -> DataFrame:
    """Video frame-sampling plan: one row per (asset_id, frame_ts).
    The decode of each frame is the stubbed step; the manifest (what a
    distributed frame-extraction pass fans out over) is real."""
    n_frames = F.greatest(
        F.ceil(F.coalesce(F.col("meta.duration_s"), F.lit(1.0)) / every_n_seconds),
        F.lit(1),
    ).cast("int")
    return df.where(F.col("media_type") == "video").select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn("frame_ts_s", F.col("frame_idx") * every_n_seconds)


def media_videos_from_documents(docs: DataFrame) -> DataFrame:
    """Synthetic video table from documents: deterministic duration
    derived from n_chars (1..30 s) so manifest math has a SQL oracle."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(640).alias("width"),
            F.lit(360).alias("height"),
            F.lit(3).alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            ((F.col("n_chars") % 30) + 1).cast("double").alias("duration_s"),
            F.lit("fake/v0").alias("codec"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# WAV (RIFF PCM16) codec — pure numpy, no external library. The audio
# twin of the netpbm tier: real container parse, with compressed
# codecs (mp3/opus) stubbed exactly like JPEG above.

def encode_wav(samples, sample_rate: int) -> bytes:
    """int16 array (n,) mono or (n, ch) -> canonical 44-byte-header
    RIFF/WAVE PCM16 bytes."""
    import numpy as np
    import struct

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    data = a.tobytes()  # interleaved little-endian (numpy C-order)
    byte_rate = sample_rate * ch * 2
    return b"".join(
        [
            b"RIFF",
            struct.pack("<I", 36 + len(data)),
            b"WAVEfmt ",
            struct.pack("<IHHIIHH", 16, 1, ch, sample_rate, byte_rate, ch * 2, 16),
            b"data",
            struct.pack("<I", len(data)),
            data,
        ]
    )


def decode_wav(b: bytes):
    """RIFF/WAVE PCM16 bytes -> (sample_rate, int16 array (n, ch)).
    Walks the chunk list (extra chunks like LIST are skipped), PCM16
    only; raises ValueError on anything else."""
    import numpy as np
    import struct

    b = bytes(b)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, ch, bits, data = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, ch, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt != 1:
                raise ValueError(f"unsupported WAV format code {fmt} (PCM only)")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if bits != 16:
        raise ValueError(f"unsupported bit depth {bits} (PCM16 only)")
    a = np.frombuffer(data, dtype="<i2")
    if ch > 1:
        a = a[: len(a) - (len(a) % ch)].reshape(-1, ch)
    else:
        a = a[:, None]
    return int(rate), a


def media_wav_from_documents(
    docs: DataFrame, sample_rate: int = 1000
) -> DataFrame:
    """Audio table whose payloads are REAL mono PCM16 WAVs:
    deterministic samples derived from the document text (utf-8 bytes
    tiled and centered to int16), duration (n_chars % 5) + 1 seconds —
    decodable by any WAV reader."""
    dur = (F.col("n_chars") % 5 + 1).cast("int")
    n_samples = dur * sample_rate
    # byte b -> int16 (b - 128) * 256: JVM-side sample synthesis, then
    # the 44-byte header is prepended per-row in one select
    txt = F.when(F.length("text") == 0, F.lit("x")).otherwise(F.col("text"))
    reps = F.greatest(
        (n_samples / F.greatest(F.length("text"), F.lit(1))).cast("int") + 1,
        F.lit(1),
    )
    tiled = F.substring(F.encode(F.repeat(txt, reps), "utf-8"), 1, n_samples)

    def _wavify(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for raw, n in zip(pdf["_tiled"], pdf["_n"]):
                u = np.frombuffer(bytes(raw), dtype=np.uint8).astype(np.int16)
                u = np.pad(u, (0, max(0, int(n) - len(u))))[: int(n)]
                payloads.append(encode_wav((u - 128) * 256, sample_rate))
            yield pd.DataFrame(
                {"asset_id": pdf["asset_id"], "payload": payloads, "_n": pdf["_n"]}
            )

    base = docs.select(
        F.col("doc_id").alias("asset_id"),
        tiled.alias("_tiled"),
        n_samples.cast("long").alias("_n"),
    )
    wav = base.mapInPandas(
        _wavify, schema="asset_id long, payload binary, _n long"
    )
    return wav.select(
        "asset_id",
        F.lit("audio").alias("media_type"),
        "payload",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(1).alias("n_channels"),
            F.lit(sample_rate).alias("sample_rate"),
            (F.col("_n") / sample_rate).cast("double").alias("duration_s"),
            F.lit("audio/wav;codec=pcm16").alias("codec"),
        ).alias("meta"),
    )


AUDIO_FEATURES_SCHEMA = (
    "asset_id long, sample_rate int, n_samples long, n_channels int, "
    "duration_s double, rms double, peak int"
)


def decode_audio_features(df: DataFrame, decoder: str = "wav") -> DataFrame:
    """Decode audio payloads -> per-asset features via mapInPandas.

    ``wav``: REAL decode (RIFF PCM16, pure numpy) — rate/duration read
    from the container, RMS/peak over actual samples.
    ``real``: the libsndfile/ffmpeg call site for compressed codecs —
    NotImplementedError here.
    """
    if decoder not in ("wav", "real"):
        raise ValueError(f"unknown decoder {decoder!r}")

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if decoder == "real":
                raise NotImplementedError(
                    "compressed audio decode requires libsndfile/ffmpeg — not "
                    "available in this environment; plug the codec call here"
                )
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None:
                    # never-fetched asset: NULL-feature row, not a
                    # batch-wide TypeError (same contract as the
                    # image tiers)
                    rows.append(
                        {
                            "asset_id": aid,
                            "sample_rate": None,
                            "n_samples": None,
                            "n_channels": None,
                            "duration_s": None,
                            "rms": None,
                            "peak": None,
                        }
                    )
                    continue
                rate, a = decode_wav(payload)
                x = a.astype(np.float64)
                # full precision (no Python round — banker's rounding
                # flips ties vs SQL HALF_UP; callers F.round if needed).
                # x*x sums are integer-exact in float64 (< 2^53), so
                # rms is bit-reproducible across engines.
                rows.append(
                    {
                        "asset_id": aid,
                        "sample_rate": rate,
                        "n_samples": a.shape[0],
                        "n_channels": a.shape[1],
                        "duration_s": a.shape[0] / rate,
                        "rms": float(np.sqrt(np.mean(x * x))) if a.size else 0.0,
                        "peak": int(np.max(np.abs(x))) if a.size else 0,
                    }
                )
            yield pd.DataFrame(rows)

    return df.where(F.col("media_type") == "audio").select(
        "asset_id", "payload"
    ).mapInPandas(_decode, schema=AUDIO_FEATURES_SCHEMA)
