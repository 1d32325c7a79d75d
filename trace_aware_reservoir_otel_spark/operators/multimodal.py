"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Training-data pipelines carry image/audio/video as `binary` columns with
typed metadata structs; decode/resize/frame-sample run as Arrow-batched
pandas UDFs over mapInPandas. The image/audio codec libraries are NOT in
this container, so the decode kernels are STUBBED (deterministic fake
featurizer / NotImplementedError), but everything Spark-side — schema,
batching, partitioning, UDF signatures — is real and tested.

Scale notes: binary payloads are processed strictly partition-locally
(mapInPandas — no shuffle); `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds per-batch memory for large blobs; metadata-only predicates (media
type, size) prune before any decode work.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    list(MEDIA_SCHEMA.fields)
    + [
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("payload_hash", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_FEATURE_DIM = 8


def synthesize_media(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Deterministic fake media table from a text table: payload = utf-8
    bytes of the text, media_type/dims derived by hash. Stands in for a
    real binary ingest (S3 blobs / Iceberg binary columns).

    `portable=True` derives media_type/dims from the md5-based `pbig`
    instead of xxhash64, so a DuckDB oracle can replay the downstream
    media_stats aggregation bit-exactly (payload_hash is md5-based in the
    featurizer already)."""
    if portable:
        from trace_aware_reservoir_otel_spark.functions.hashing import pbig

        h = pbig(F.col(text_col), seed)
    else:
        h = F.xxhash64(F.col(text_col))
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(h, F.lit(3)) + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.when(mt == "image", (F.pmod(h, 1024) + 1).cast("int")).alias("width"),
        F.when(mt == "image", (F.pmod(h, 768) + 1).cast("int")).alias("height"),
        F.when(mt != "image", (F.pmod(h, 60000) + 1).cast("long")).alias("duration_ms"),
    )


def _fake_feature(payload: bytes) -> "list[float]":
    # deterministic stand-in for a real decoder+featurizer: byte-histogram
    # folded to _FEATURE_DIM buckets, normalized. Replace with PIL/ffmpeg
    # kernels where available.
    if payload is None:
        return None
    buckets = [0] * _FEATURE_DIM
    for b in payload:
        buckets[b % _FEATURE_DIM] += 1
    total = float(len(payload)) or 1.0
    return [c / total for c in buckets]


# --- real pure-Python decoders for uncompressed formats ------------------------
#
# WAV (RIFF/PCM), BMP (BITMAPINFOHEADER), and PPM (P6) are fully specified
# byte layouts needing no codec library, so decode is REAL here: dimensions,
# duration, and content statistics come from the actual payload bytes.


def sniff_media(payload: "bytes | None") -> str:
    if not payload or len(payload) < 12:
        return "unknown"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"P6":
        return "ppm"
    return "unknown"


def decode_wav(payload: bytes) -> "dict | None":
    """RIFF/PCM parse: sample rate, channels, bit depth, duration, and RMS
    amplitude computed from the real samples (16-bit PCM)."""
    import struct

    if sniff_media(payload) != "wav":
        return None
    pos, n = 12, len(payload)
    fmt = None
    out = None
    while pos + 8 <= n:
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            _fmt_tag, channels, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = (channels, rate, bits)
        elif cid == b"data" and fmt is not None:
            channels, rate, bits = fmt
            if bits == 16:
                k = len(body) // 2
                samples = struct.unpack(f"<{k}h", body[: 2 * k])
                n_frames = k // max(channels, 1)
                rms = (sum(s * s for s in samples) / max(k, 1)) ** 0.5
                out = {
                    "sample_rate": rate,
                    "n_channels": channels,
                    "bits": bits,
                    "n_frames": n_frames,
                    "duration_ms": int(n_frames * 1000 / rate) if rate else None,
                    "rms_x1000": int(rms * 1000 / 32768),
                }
        pos += 8 + size + (size & 1)
    return out


def decode_bmp(payload: bytes) -> "dict | None":
    """BMP (BITMAPINFOHEADER, uncompressed 24bpp) parse: real dimensions +
    mean RGB from the pixel array (rows bottom-up, 4-byte padded)."""
    import struct

    if sniff_media(payload) != "bmp":
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    out = {"width": width, "height": abs(height), "bpp": bpp}
    if bpp == 24:
        row = (width * 3 + 3) & ~3
        tot = [0, 0, 0]
        npx = 0
        for r in range(abs(height)):
            base = data_off + r * row
            for c in range(width):
                b, g, rr = payload[base + 3 * c : base + 3 * c + 3]
                tot[0] += rr
                tot[1] += g
                tot[2] += b
                npx += 1
        if npx:
            out["mean_rgb"] = [t // npx for t in tot]
    return out


def decode_ppm(payload: bytes) -> "dict | None":
    """PPM P6 header parse (width, height, maxval)."""
    if sniff_media(payload) != "ppm":
        return None
    fields = []
    pos = 2
    while len(fields) < 3 and pos < len(payload):
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    return {"width": w, "height": h, "maxval": maxval}


# encoders for deterministic fixtures (tests / payload synthesis)


def make_wav(n_frames: int = 800, rate: int = 8000, amplitude: int = 8192) -> bytes:
    """16-bit mono PCM square wave — fully deterministic bytes."""
    import struct

    samples = b"".join(
        struct.pack("<h", amplitude if (i // 8) % 2 == 0 else -amplitude)
        for i in range(n_frames)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def make_bmp(width: int = 4, height: int = 3, rgb: "tuple" = (10, 20, 30)) -> bytes:
    import struct

    row = (width * 3 + 3) & ~3
    pixels = bytearray()
    for _r in range(height):
        for _c in range(width):
            pixels += bytes([rgb[2], rgb[1], rgb[0]])  # BGR
        pixels += b"\x00" * (row - width * 3)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    off = 14 + len(info)
    header = b"BM" + struct.pack("<IHHI", off + len(pixels), 0, 0, off)
    return header + info + bytes(pixels)


def resize_bmp(payload: bytes, out_w: int, out_h: int) -> "bytes | None":
    """REAL nearest-neighbor resize for 24bpp BMP payloads: decodes the
    actual pixel array, samples it, and re-encodes a valid BMP. The
    resize kernel for compressed formats needs codec libs (absent)."""
    import struct

    if sniff_media(payload) != "bmp":
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    if bpp != 24 or width <= 0:
        return None
    h = abs(height)
    src_row = (width * 3 + 3) & ~3
    dst_row = (out_w * 3 + 3) & ~3
    out = bytearray()
    for r in range(out_h):
        sr = min(h - 1, r * h // out_h)
        base = data_off + sr * src_row
        row = bytearray()
        for c in range(out_w):
            sc = min(width - 1, c * width // out_w)
            row += payload[base + 3 * sc : base + 3 * sc + 3]
        row += b"\x00" * (dst_row - out_w * 3)
        out += row
    info = struct.pack(
        "<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0, len(out), 2835, 2835, 0, 0
    )
    off = 14 + len(info)
    header = b"BM" + struct.pack("<IHHI", off + len(out), 0, 0, off)
    return header + info + bytes(out)


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    payload_col: str = "payload",
) -> DataFrame:
    """Batch resize over a binary column: BMP payloads are truly resized
    (decode -> sample -> re-encode); other formats pass through unchanged
    with resized=false. Partition-local mapInPandas."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("resized", T.BooleanType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            flags = []
            payloads = []
            for p in pdf[payload_col]:
                p = bytes(p) if p is not None else None
                try:
                    r = resize_bmp(p, out_w, out_h) if p is not None else None
                except (ValueError, IndexError):
                    r = None
                payloads.append(r if r is not None else p)
                flags.append(r is not None)
            pdf[payload_col] = payloads
            pdf["resized"] = flags
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("rms_x1000", T.IntegerType(), True),
        T.StructField("mean_r", T.IntegerType(), True),
    ]
)


def decode_media_metadata(df: DataFrame, payload_col: str = "payload", id_col: str = "media_id") -> DataFrame:
    """Real decode over a binary column: WAV/BMP/PPM payloads yield actual
    dimensions/duration/content stats; compressed formats come back
    format='unknown' with NULL metadata (their kernels need codec libs).
    Arrow-batched mapInPandas — partition-local, payloads never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from struct import error as struct_error

        cols = [f.name for f in MEDIA_META_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                payload = bytes(payload) if payload is not None else None
                kind = sniff_media(payload)
                rec = {c: None for c in cols}
                rec["media_id"] = int(mid)
                rec["format"] = kind
                try:
                    if kind == "wav":
                        d = decode_wav(payload) or {}
                        rec.update(
                            duration_ms=d.get("duration_ms"),
                            sample_rate=d.get("sample_rate"),
                            rms_x1000=d.get("rms_x1000"),
                        )
                    elif kind == "bmp":
                        d = decode_bmp(payload) or {}
                        rec.update(width=d.get("width"), height=d.get("height"))
                        if d.get("mean_rgb"):
                            rec["mean_r"] = d["mean_rgb"][0]
                    elif kind == "ppm":
                        d = decode_ppm(payload) or {}
                        rec.update(width=d.get("width"), height=d.get("height"))
                except (ValueError, IndexError, struct_error):
                    # truncated/corrupt payload: keep the sniffed format,
                    # NULL metadata — never fail the job on one bad blob
                    rec["format"] = f"corrupt_{kind}"
                rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=MEDIA_META_SCHEMA)


def extract_features(df: DataFrame, batch_hint: "int | None" = None) -> DataFrame:
    """mapInPandas featurization: Arrow batches in, per-row features out.

    Partition-local (no shuffle); payload bytes never leave the executor.
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def stable_hash(p):
            # process-independent (unlike builtin hash with PYTHONHASHSEED)
            if p is None:
                return None
            return int.from_bytes(hashlib.md5(bytes(p)).digest()[:8], "big") >> 1

        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_bytes"] = pdf["payload"].map(
                lambda p: len(p) if p is not None else None
            ).astype("Int64")
            pdf["payload_hash"] = pdf["payload"].map(stable_hash).astype("Int64")
            pdf["feature"] = pdf["payload"].map(_fake_feature)
            yield pdf

    return df.mapInPandas(featurize, schema=FEATURE_SCHEMA)


def media_stats(features: DataFrame) -> DataFrame:
    """Metadata aggregation after featurize: per media_type counts/sizes."""
    return features.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.countDistinct("payload_hash").cast("long").alias("distinct_payloads"),
    )
