"""Multimodal column handling (SURVEY.md §2B.2 L5): images / audio /
video modeled as opaque ``binary`` columns plus typed metadata structs,
with decode / feature-extraction / resize / frame-sampling implemented
as Arrow-batched ``mapInPandas`` stages.

Real formats decoded with pure-Python header parsers (no codec libs
in this container): PNG (signature + IHDR width/height/depth), JPEG
(marker-segment walk to the SOF frame header: width, height,
component count — the standard dimension probe, no entropy decode
needed), and WAV (RIFF/WAVE fmt chunk: channels, sample rate, bits
per sample). Header CRCs are NOT verified — this is metadata
extraction, not integrity checking (same posture as file(1) /
imghdr). Full pixel / PCM decode would need a codec library; header
metadata is complete for all three formats. The engine's
deterministic test format ``FAKE1`` (magic ``FAKE`` + uint32 width +
uint32 height, little-endian, then payload) is kept for fixture
tests.

Scale: binary payloads ride in the same parquet row groups; metadata
predicates (width/height/n_bytes) prune *before* any decode; the
decode stage is map-only over Arrow batches so it scales linearly with
executors; `spark.sql.files.maxPartitionBytes` governs batch memory.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from target_hdfs_spark.registry import query
from target_hdfs_spark.sources.media import media_table
from target_hdfs_spark.sources.readers import load_table

FAKE_MAGIC = b"FAKE"
_HEADER = struct.Struct("<4sII")

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_payload_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)


def encode_fake_image(width: int, height: int, payload: bytes) -> bytes:
    """Produce a deterministic FAKE1 image blob (test fixture format)."""
    return _HEADER.pack(FAKE_MAGIC, width, height) + payload


PNG_SIG = b"\x89PNG\r\n\x1a\n"
# signature (8) + IHDR chunk: length (4) + type (4) + data (13) + crc (4)
PNG_HEADER_LEN = 8 + 4 + 4 + 13 + 4

WAV_HEADER = struct.Struct("<4sI4s4sIHHIIHH")  # RIFF..WAVE fmt chunk
WAV_HEADER_LEN = WAV_HEADER.size  # 36
WAV_DATA_PREFIX_LEN = 8  # 'data' + uint32 size


# JPEG start-of-frame markers that carry dimensions: SOF0-SOF15 minus
# DHT (C4), JPG (C8), DAC (CC) which share the numeric range but are
# not frame headers (ITU T.81 table B.1).
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# markers with no length field: TEM, SOI, EOI, RST0-7
_JPEG_BARE_MARKERS = frozenset({0x01, 0xD8, 0xD9}) | frozenset(range(0xD0, 0xD8))


def _jpeg_sof(blob: bytes) -> tuple[int, int, int] | None:
    """Walk JPEG marker segments to the first SOF header and return
    (width, height, sof_segment_end_offset), or None if the stream
    desyncs or ends before a frame header. Pure header walk — the
    length-prefixed segment chain (ITU T.81 §B.1.1.4) makes dimensions
    reachable without any entropy decoding."""
    n = len(blob)
    i = 2  # past SOI
    while i + 2 <= n:
        if blob[i] != 0xFF:
            return None  # desynchronized: not at a marker boundary
        marker = blob[i + 1]
        if marker == 0xFF:  # fill byte padding before a marker
            i += 1
            continue
        i += 2
        if marker in _JPEG_BARE_MARKERS:
            if marker == 0xD9:  # EOI before any SOF
                return None
            continue
        if marker == 0xDA:  # SOS: entropy-coded data; SOF must precede
            return None
        if i + 2 > n:
            return None
        seg_len = int.from_bytes(blob[i : i + 2], "big")
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF_MARKERS:
            # segment: len(2) precision(1) height(2) width(2) ncomp(1)
            if i + 7 > n:
                return None
            if i + seg_len > n:
                # declared segment length extends past end of data —
                # truncated inside the SOF segment; a payload offset
                # beyond len(blob) would yield negative payload bytes
                return None
            h = int.from_bytes(blob[i + 3 : i + 5], "big")
            w = int.from_bytes(blob[i + 5 : i + 7], "big")
            return (w, h, i + seg_len)
        i += seg_len
    return None


def decode_image_meta(blob: bytes) -> tuple[int, int, int, str]:
    """Parse image header -> (width, height, payload_bytes, format).

    PNG: real parse of the 8-byte signature + IHDR chunk (width and
    height are big-endian uint32 at offsets 16/20 per the PNG spec).
    JPEG: real marker-segment walk to the SOF frame header (dimensions
    are in the frame header, before any entropy-coded data, so no
    codec is needed — ITU T.81 §B.2.2). Chunk CRCs / entropy streams
    are not verified (metadata extraction, not integrity).
    """
    if blob is None:
        return (0, 0, 0, "null")
    blob = bytes(blob)
    if blob[:8] == PNG_SIG:
        if len(blob) >= PNG_HEADER_LEN and blob[12:16] == b"IHDR":
            w = int.from_bytes(blob[16:20], "big")
            h = int.from_bytes(blob[20:24], "big")
            return (w, h, len(blob) - PNG_HEADER_LEN, "png")
        return (0, 0, len(blob), "png_corrupt")
    if blob[:4] == FAKE_MAGIC and len(blob) >= _HEADER.size:
        _, w, h = _HEADER.unpack(blob[: _HEADER.size])
        return (w, h, len(blob) - _HEADER.size, "fake1")
    if blob[:3] == b"\xff\xd8\xff":
        sof = _jpeg_sof(blob)
        if sof is None:
            return (0, 0, len(blob), "jpeg_corrupt")
        w, h, payload_start = sof
        return (w, h, len(blob) - payload_start, "jpeg")
    return (0, 0, len(blob), "unknown")


def encode_png(width: int, height: int, payload: bytes = b"") -> bytes:
    """Minimal structurally-valid PNG prefix: signature + IHDR (8-bit
    RGB, CRC computed properly via zlib) followed by `payload` standing
    in for the IDAT/IEND stream. Test-fixture twin of the parser."""
    import zlib

    ihdr_data = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # depth 8, color RGB, std compression
    )
    crc = zlib.crc32(b"IHDR" + ihdr_data) & 0xFFFFFFFF
    return (
        PNG_SIG
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + ihdr_data
        + crc.to_bytes(4, "big")
        + payload
    )


JPEG_SOI = b"\xff\xd8"
JPEG_APP0 = (
    b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00"
    b"\x00\x01\x00\x01\x00\x00"
)
# SOI + APP0 + SOF0 (precision 8, 3 components, 9 component bytes)
JPEG_HEADER_LEN = 2 + 18 + 19


def encode_jpeg(width: int, height: int, payload: bytes = b"") -> bytes:
    """Minimal structurally-valid JFIF prefix: SOI + APP0 + SOF0 frame
    header for an 8-bit 3-component image, followed by ``payload``
    standing in for the entropy-coded stream. Fixture twin of
    ``_jpeg_sof`` (and what sources/media.py stores for q61)."""
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")  # 2 len + 1 precision + 4 dims + 1 n + 9
        + bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([3])
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])  # id/sampling/qtable
    )
    return JPEG_SOI + JPEG_APP0 + sof0 + payload


def decode_audio_meta(blob: bytes) -> tuple[int, int, int, int, str]:
    """Parse a WAV (RIFF/WAVE) header -> (n_channels, sample_rate,
    bits_per_sample, n_data_bytes, format). Pure-Python little-endian
    struct parse of the canonical 16-byte PCM fmt chunk; non-WAV blobs
    report format 'unknown'."""
    if blob is None:
        return (0, 0, 0, 0, "null")
    blob = bytes(blob)
    if len(blob) >= WAV_HEADER_LEN and blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        (_, _, _, fmt_id, fmt_size, _audio_fmt, n_ch, rate, _brate, _align, bits) = (
            WAV_HEADER.unpack(blob[:WAV_HEADER_LEN])
        )
        if fmt_id != b"fmt " or fmt_size != 16:
            return (0, 0, 0, len(blob), "wav_corrupt")
        data_bytes = max(0, len(blob) - WAV_HEADER_LEN - WAV_DATA_PREFIX_LEN)
        return (n_ch, rate, bits, data_bytes, "wav")
    return (0, 0, 0, len(blob), "unknown")


def encode_wav(
    n_channels: int, sample_rate: int, bits: int, payload: bytes = b""
) -> bytes:
    """Minimal valid PCM WAV blob (fixture twin of decode_audio_meta)."""
    block_align = n_channels * bits // 8
    header = WAV_HEADER.pack(
        b"RIFF",
        36 + WAV_DATA_PREFIX_LEN + len(payload) - 8,
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        n_channels,
        sample_rate,
        sample_rate * block_align,
        block_align,
        bits,
    )
    return header + b"data" + len(payload).to_bytes(4, "little") + payload


def with_image_meta(df: DataFrame, binary_col: str = "image") -> DataFrame:
    """Append a typed metadata struct parsed from a binary column.

    Arrow-batched mapInPandas: the Python boundary is crossed once per
    record batch, never per row.
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("image_meta", IMAGE_META_SCHEMA)]
    )

    def decode_batches(batches):
        import pandas as pd

        for pdf in batches:
            metas = [decode_image_meta(b) for b in pdf[binary_col]]
            pdf = pdf.copy()
            pdf["image_meta"] = [
                {"width": w, "height": h, "n_payload_bytes": n, "format": f}
                for (w, h, n, f) in metas
            ]
            yield pdf

    return df.mapInPandas(decode_batches, out_schema)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_data_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)


def with_audio_meta(df: DataFrame, binary_col: str = "audio") -> DataFrame:
    """Append a typed metadata struct parsed from a WAV binary column
    (Arrow-batched mapInPandas, same shape as with_image_meta)."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("audio_meta", AUDIO_META_SCHEMA)]
    )

    def decode_batches(batches):
        for pdf in batches:
            metas = [decode_audio_meta(b) for b in pdf[binary_col]]
            pdf = pdf.copy()
            pdf["audio_meta"] = [
                {
                    "n_channels": c,
                    "sample_rate": r,
                    "bits_per_sample": b,
                    "n_data_bytes": n,
                    "format": f,
                }
                for (c, r, b, n, f) in metas
            ]
            yield pdf

    return df.mapInPandas(decode_batches, out_schema)


def sample_frames(
    df: DataFrame, binary_col: str = "video", every_k: int = 16, frame_bytes: int = 4
) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: emit every k-th
    fixed-size frame of the payload as its own row (id, frame_idx,
    frame). The byte-slicing stands in for a codec's frame decode; the
    row-explosion shape and Arrow batching are the real thing."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def explode_frames(batches):
        import pandas as pd

        for pdf in batches:
            rows: list[tuple[int, int, bytes]] = []
            for doc_id, blob in zip(pdf["doc_id"], pdf[binary_col]):
                if blob is None:
                    continue
                n_frames = len(blob) // frame_bytes
                for idx in range(0, n_frames, every_k):
                    rows.append(
                        (doc_id, idx, bytes(blob[idx * frame_bytes : (idx + 1) * frame_bytes]))
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return df.mapInPandas(explode_frames, out_schema)


# ---------------------------------------------------------------------------
# L5a: binary column metadata — fully oracle-checked
# ---------------------------------------------------------------------------


@query(
    "q60_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           substring(to_base64(encode(text)), 1, 24) AS b64_prefix
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def q60_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata surface: byte length, content digest,
    base64 transport encoding — computed on a binary column derived
    from text (the container ships no real media, so the bytes are the
    UTF-8 payload; the operators are byte-level and format-agnostic).
    """
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.substring(F.base64(blob), 1, 24).alias("b64_prefix"),
    )


# ---------------------------------------------------------------------------
# L5b: decode pipeline (mapInPandas plumbing; rows-only check)
# ---------------------------------------------------------------------------


@query(
    "q61_image_decode_pipeline",
    oracle="""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS format,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_payload_bytes,
           CAST(MAX(doc_id % 127 + 1) AS INT) AS max_width,
           CAST(MAX(doc_id % 97 + 1) AS INT) AS max_height
    FROM documents
    GROUP BY 1
    """,
    tags=("multimodal", "udf", "mapInPandas"),
)
def q61_image_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image decode over a STORED mixed-format corpus: the
    ``media`` fixture (sources/media.py) holds one valid JFIF/SOF0
    JPEG (even doc_ids) or PNG signature+IHDR (odd doc_ids) per
    document in a parquet ``BinaryType`` column — text bytes as the
    entropy/IDAT payload. The query scans the stored bytes and the
    pure-Python header parsers (PNG IHDR read, JPEG marker-segment
    walk) decode width / height / payload size over Arrow-batched
    mapInPandas, followed by filter + per-format aggregation. This is
    the 100 TB shape: binary-column scan → Arrow batch → decode, with
    no synthesis in the measured path.

    Exactness: the oracle recomputes the expected aggregates from the
    same (doc_id, text) inputs, so the check proves the stored headers
    round-trip encode → parquet → scan → parser bit-for-bit.
    """
    imgs = media_table(spark, sf_dir).select("doc_id", "image")
    meta = with_image_meta(imgs, "image")
    return (
        meta.select("doc_id", "image_meta.*")
        .filter(F.col("width") > 0)
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("n_payload_bytes").alias("total_payload_bytes"),
            F.max("width").alias("max_width"),
            F.max("height").alias("max_height"),
        )
    )


# ---------------------------------------------------------------------------
# L5d: WAV header decode (RIFF/WAVE fmt chunk)
# ---------------------------------------------------------------------------


@query(
    "q94_wav_audio_meta",
    oracle="""
    SELECT 'wav' AS format,
           CAST(doc_id % 2 + 1 AS INT) AS n_channels,
           CAST(COUNT(*) AS BIGINT) AS n_clips,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_data_bytes,
           CAST(MAX(8000) AS INT) AS max_sample_rate,
           CAST(MAX(8 + 8 * (doc_id % 2)) AS INT) AS max_bits
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("multimodal", "audio", "mapInPandas"),
)
def q94_wav_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV header decode end-to-end: synthesize PCM WAV blobs per
    document (RIFF/WAVE fmt chunk; channels and bit depth derived from
    doc_id, text bytes as the data chunk), parse them with the
    pure-Python WAV parser via Arrow-batched mapInPandas, aggregate by
    channel count. The oracle recomputes expected values from the same
    inputs — proving the header round-trips through the real parser.
    RIFF/data size fields are zero placeholders (the parser, like any
    stream parser, does not trust container sizes)."""
    docs = load_table(spark, sf_dir, "documents")
    wav = F.concat(
        F.lit(b"RIFF"),
        F.lit(bytes(4)),  # RIFF size placeholder
        F.lit(b"WAVEfmt "),
        F.lit((16).to_bytes(4, "little")),
        F.lit((1).to_bytes(2, "little")),  # PCM
        F.encode(F.expr("chr(doc_id % 2 + 1)"), "UTF-8"),
        F.lit(b"\x00"),
        F.lit((8000).to_bytes(4, "little")),
        F.lit(bytes(4)),  # byte rate placeholder
        F.lit(bytes(2)),  # block align placeholder
        F.encode(F.expr("chr(8 + 8 * (doc_id % 2))"), "UTF-8"),
        F.lit(b"\x00"),
        F.lit(b"data"),
        F.lit(bytes(4)),  # data size placeholder
        F.encode("text", "UTF-8"),
    )
    clips = docs.select("doc_id", wav.alias("audio"))
    meta = with_audio_meta(clips, "audio")
    return (
        meta.select("doc_id", "audio_meta.*")
        .filter(F.col("format") == "wav")
        .groupBy("format", "n_channels")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_data_bytes").alias("total_data_bytes"),
            F.max("sample_rate").alias("max_sample_rate"),
            F.max("bits_per_sample").alias("max_bits"),
        )
    )


# ---------------------------------------------------------------------------
# L5e: pixel-level PNG codec + perceptual-hash (dHash) image dedup
# ---------------------------------------------------------------------------

_IMG_W = _IMG_H = 16
_IMG_GROUPS = 50


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    crc = zlib.crc32(tag + data) & 0xFFFFFFFF
    return len(data).to_bytes(4, "big") + tag + data + crc.to_bytes(4, "big")


def encode_png_full(pixels) -> bytes:
    """COMPLETE valid 8-bit RGB PNG (IHDR + one zlib IDAT + IEND) from
    a grayscale matrix (r = g = b; list-of-lists or ndarray). Rows
    cycle through filter types 0/1/2 (None/Sub/Up) so the decoder's
    unfilter path is genuinely exercised, not just pass-through.
    Scanline filtering is vectorized — wrapping uint8 subtraction is
    exactly the sequential loop's `& 0xFF` arithmetic."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.int64)
    h, w = px.shape
    if px.min() < 0 or px.max() > 255:
        # the old bytes() path raised on out-of-range values; a silent
        # uint8 wrap would round-trip to wrong pixels with no error
        raise ValueError("pixel values must be in 0..255")
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    rgb = np.repeat(px.astype(np.uint8), 3, axis=1)  # r = g = b
    raw = bytearray()
    prev = np.zeros(3 * w, dtype=np.uint8)
    for y in range(h):
        scan = rgb[y]
        ftype = y % 3
        raw.append(ftype)
        if ftype == 0:  # None
            out = scan
        elif ftype == 1:  # Sub
            out = scan.copy()
            out[3:] = scan[3:] - scan[:-3]
        else:  # Up
            out = scan - prev
        raw += out.tobytes()
        prev = scan
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(blob: bytes) -> list[list[int]]:
    """Real PNG pixel decoder for the engine's supported profile
    (8-bit RGB, filters 0-2): chunk walk -> IDAT inflate -> per-row
    unfilter -> luminance matrix (r channel; encoder writes r=g=b).
    Raises ValueError on malformed input. List-of-lists view of
    :func:`decode_png_array` (the vectorized hot path)."""
    return decode_png_array(blob).tolist()


def decode_png_array(blob: bytes):
    """Vectorized form of the PNG decoder: returns the h x w luminance
    matrix as an int64 ndarray. The per-row unfilter is numpy — Up is
    a wrapping uint8 add against the previous scanline; Sub's
    recurrence out[i] = scan[i] + out[i-3] is a cumulative sum over
    each byte-position residue class mod 3 (identical arithmetic to
    the sequential loop, since mod-256 distributes over the sum)."""
    import zlib

    import numpy as np

    if blob[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, None, None, b""
    while pos + 8 <= len(blob):
        ln = int.from_bytes(blob[pos : pos + 4], "big")
        tag = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            if data[8] != 8 or data[9] != 2:
                raise ValueError("unsupported PNG profile")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 8 + ln + 4
    if w is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(idat)
    stride = 3 * w
    out = np.empty((h, w), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        base = y * (stride + 1)
        ftype = raw[base]
        scan = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1)
        if ftype == 1:  # Sub: per-residue-class cumulative sum mod 256
            acc = scan.astype(np.int64)
            for c in range(3):
                acc[c::3] = np.cumsum(acc[c::3])
            scan = (acc % 256).astype(np.uint8)
        elif ftype == 2:  # Up: wrapping uint8 add
            scan = scan + prev
        elif ftype != 0:
            raise ValueError(f"unsupported filter {ftype}")
        prev = scan
        out[y] = scan[0::3]
    return out


def dhash64(pixels) -> int:
    """64-bit difference hash: block-sample to a 9x8 grid, emit 1 when
    the right neighbor is brighter — the standard perceptual near-dup
    signature for images (gradient direction is robust to uniform
    brightness/contrast shifts). Accepts a list-of-lists or ndarray;
    sampling, comparison and bit packing are vectorized (np.packbits
    packs MSB-first, matching the original shift-left loop order)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.int64)
    w = px.shape[1]
    x0 = (np.arange(9) * (w - 1)) // 8
    ys = 2 * np.arange(8)
    grid = (px[ys][:, x0] + px[ys + 1][:, x0]) // 2
    bits = (grid[:, 1:] > grid[:, :-1]).reshape(-1)
    h = int.from_bytes(np.packbits(bits).tobytes(), "big")
    # two's-complement into signed int64: BIGINT columns can't carry
    # uint64, and the hash is an opaque identifier either way
    return h - (1 << 64) if h >= (1 << 63) else h


def _group_pixels(g: int) -> list[list[int]]:
    """Deterministic synthetic image for content group g (distinct
    dHash per group for g < _IMG_GROUPS — pinned by test). Built with
    numpy broadcasting (identical integers to the scalar formula; all
    terms fit int64 comfortably)."""
    import numpy as np

    x = np.arange(_IMG_W, dtype=np.int64)
    y = np.arange(_IMG_H, dtype=np.int64).reshape(-1, 1)
    m = (
        g * 2654435761 + x * ((g % 7) + 2) + y * ((g % 11) + 3) + x * y * (g + 1)
    ) % 256
    return m.tolist()


@query(
    "q147_image_dhash_dedup",
    oracle=f"""
    SELECT MIN(doc_id) AS root_doc_id, COUNT(*) AS n_images
    FROM documents
    GROUP BY doc_id % {_IMG_GROUPS}
    ORDER BY root_doc_id
    """,
    tags=("multimodal", "dedup", "phash", "mapInPandas"),
)
def q147_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level image near-dup detection over STORED bytes: scan
    the complete valid PNGs (zlib IDAT, mixed row filters) from the
    media fixture's ``BinaryType`` column, run the real decoder
    (chunk walk → inflate → unfilter), compute the 64-bit perceptual
    dHash, and exact-dedup on the hash — the image twin of q40's text
    dedup. Content groups are doc_id % {_IMG_GROUPS}, so the oracle
    can verify the clustering without computing hashes: distinct
    groups map to distinct dHashes (pinned by tests/test_multimodal.py),
    making hash-group = content-group.

    Scale: parquet binary scan → ONE decode+hash mapInPandas pass
    (Arrow batches, map-only — this is how the images arrive at
    100 TB, and only this stage touches pixels); the shuffle carries
    (doc_id, 8-byte hash), and the dedup groupBy is exact-dedup's
    plan. This is the standard shape for pHash/CLIP-embedding image
    dedup over web-crawl corpora.
    """
    import pandas as pd

    imgs = media_table(spark, sf_dir).select("doc_id", "image_png")

    def decode_hash(batches):
        for pdf in batches:
            hashes = [
                dhash64(decode_png_array(bytes(blob))) for blob in pdf["image_png"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})

    hashed = imgs.mapInPandas(decode_hash, "doc_id long, phash long")
    return (
        hashed.groupBy("phash")
        .agg(
            F.min("doc_id").alias("root_doc_id"),
            F.count(F.lit(1)).alias("n_images"),
        )
        .select("root_doc_id", "n_images")
        .orderBy("root_doc_id")
    )


# ---------------------------------------------------------------------------
# L5f: sample-level PCM audio roundtrip + exact integer features
# ---------------------------------------------------------------------------

_PCM_N = 256          # samples per clip
_PCM_RATE = 8000


def _pcm_sample(doc_id: int, i: int) -> int:
    """Deterministic int16 sample i of doc_id's synthetic clip
    (reproduced literally in the oracle SQL)."""
    return ((doc_id * 31 + i * 17) % 2048) - 1024


def encode_pcm_wav(doc_id: int) -> bytes:
    """COMPLETE valid 16-bit mono PCM WAV for the doc's clip. The
    sample vector is built with numpy (bit-identical bytes to the
    per-sample _pcm_sample formula — pinned by test) so encoding stays
    vectorized inside the Arrow-batched decode/feature passes."""
    import numpy as np

    i = np.arange(_PCM_N, dtype=np.int64)
    v = (doc_id * 31 + i * 17) % 2048 - 1024
    return encode_wav(1, _PCM_RATE, 16, v.astype("<i2").tobytes())


def decode_pcm_samples(blob: bytes) -> list[int]:
    """Real PCM decoder for the supported profile: header parse via
    decode_audio_meta, then little-endian int16 frames."""
    return [int(v) for v in decode_pcm_array(blob)]


def decode_pcm_array(blob: bytes):
    """Vectorized PCM decode: header parse via decode_audio_meta, then
    one zero-copy np.frombuffer view of the little-endian int16
    frames, widened to int64 so downstream Σv² can't overflow. This is
    the hot-path form (q152/q64 feature extraction runs entirely on
    the returned array); decode_pcm_samples wraps it for list
    consumers."""
    import numpy as np

    n_ch, rate, bits, n_bytes, fmt = decode_audio_meta(blob)
    if fmt != "wav" or bits != 16 or n_ch != 1:
        raise ValueError(f"unsupported audio profile: {fmt}/{bits}/{n_ch}")
    data = bytes(blob)[WAV_HEADER_LEN + WAV_DATA_PREFIX_LEN :]
    n = len(data) // 2
    return np.frombuffer(data, dtype="<i2", count=n).astype(np.int64)


@query(
    "q152_audio_pcm_features",
    oracle=f"""
    WITH s AS (
      SELECT d.doc_id, i.i,
             ((d.doc_id * 31 + i.i * 17) % 2048) - 1024 AS v
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_PCM_N - 1})) AS i) i
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS energy,
           CAST(MAX(abs(v)) AS BIGINT) AS peak,
           CAST(SUM(CASE WHEN i > 0 AND (v >= 0) <>
                 (((doc_id * 31 + (i - 1) * 17) % 2048) - 1024 >= 0)
               THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM s
    GROUP BY doc_id
    """,
    tags=("multimodal", "audio", "mapInPandas"),
)
def q152_audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-level audio features over STORED bytes: scan the
    complete valid 16-bit mono PCM WAVs from the media fixture's
    ``BinaryType`` column, parse header + frames with the real
    decoder, and emit exact integer features — energy (Σv²), peak
    (max |v|), and zero-crossing count. The audio twin of q147's
    pixel-exact image path: the oracle recomputes the features from
    the sample FORMULA, so any corruption in the
    encode → parquet → scan → decode byte path (endianness, header
    offset, frame split) breaks the value hash.

    Scale: parquet binary scan → one decode+features mapInPandas pass
    over Arrow batches (the clips arrive as binary columns at 100 TB
    and this stage is the only one touching frames); the shuffle
    carries four int64s per clip; decode is a zero-copy np.frombuffer
    view per clip.
    """
    import pandas as pd

    clips = media_table(spark, sf_dir).select("doc_id", "audio_wav")

    def roundtrip_features(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["audio_wav"]):
                v = decode_pcm_array(blob)
                energy = int((v * v).sum())
                peak = int(np.abs(v).max())
                zc = int(((v[1:] >= 0) != (v[:-1] >= 0)).sum())
                out.append((int(doc_id), len(v), energy, peak, zc))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_samples", "energy", "peak", "zero_crossings"],
            )

    return clips.mapInPandas(
        roundtrip_features,
        "doc_id long, n_samples long, energy long, peak long, zero_crossings long",
    )


# ---------------------------------------------------------------------------
# L5g: video container index — real RIFF/AVI chunk walk
# ---------------------------------------------------------------------------

_AVI_MAX_FRAMES = 8


def _frame_len(doc_id: int, k: int) -> int:
    """Deterministic byte length of frame k in doc_id's clip
    (reproduced literally in the oracle SQL)."""
    return 16 + (doc_id * 7 + k * 13) % 64


def encode_avi(doc_id: int) -> bytes:
    """Minimal valid RIFF/AVI: 'RIFF' size 'AVI ' + one LIST 'movi'
    holding n '00db' (uncompressed video frame) chunks, word-aligned
    per the RIFF spec. Frame k's payload is deterministic filler of
    _frame_len bytes."""
    n_frames = 1 + doc_id % _AVI_MAX_FRAMES
    chunks = b""
    for k in range(n_frames):
        ln = _frame_len(doc_id, k)
        payload = bytes((doc_id + k + j) % 256 for j in range(ln))
        chunk = b"00db" + ln.to_bytes(4, "little") + payload
        if ln % 2:  # RIFF chunks are word-aligned
            chunk += b"\x00"
        chunks += chunk
    movi = b"LIST" + (4 + len(chunks)).to_bytes(4, "little") + b"movi" + chunks
    return b"RIFF" + (4 + len(movi)).to_bytes(4, "little") + b"AVI " + movi


def decode_avi_index(blob: bytes) -> list[tuple[int, int, int]]:
    """Real RIFF chunk walk: (frame_idx, byte_offset, n_bytes) for
    every '00db' frame chunk in the movi LIST. Raises ValueError on
    malformed containers."""
    blob = bytes(blob)
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    pos = 12
    frames: list[tuple[int, int, int]] = []
    while pos + 8 <= len(blob):
        tag = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        if tag == b"LIST":
            list_type = blob[pos + 8 : pos + 12]
            inner = pos + 12
            end = pos + 8 + size
            if end > len(blob):
                raise ValueError("truncated LIST")
            if list_type == b"movi":
                while inner + 8 <= end:
                    ctag = blob[inner : inner + 4]
                    csize = int.from_bytes(blob[inner + 4 : inner + 8], "little")
                    if inner + 8 + csize > end:
                        raise ValueError("truncated frame chunk")
                    if ctag == b"00db":
                        frames.append((len(frames), inner + 8, csize))
                    inner += 8 + csize + (csize % 2)  # word alignment
            pos = end
        else:
            pos += 8 + size + (size % 2)
    return frames


@query(
    "q153_video_container_index",
    oracle=f"""
    WITH f AS (
      SELECT d.doc_id, k.k,
             16 + (d.doc_id * 7 + k.k * 13) % 64 AS n_bytes
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_AVI_MAX_FRAMES - 1})) AS k) k
      WHERE k.k < 1 + d.doc_id % {_AVI_MAX_FRAMES}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(n_bytes) AS BIGINT) AS total_frame_bytes,
           CAST(MAX(n_bytes) AS BIGINT) AS max_frame_bytes
    FROM f
    GROUP BY doc_id
    """,
    tags=("multimodal", "video", "mapInPandas"),
)
def q153_video_container_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container indexing over STORED bytes: scan each
    document's valid RIFF/AVI (word-aligned '00db' frame chunks
    inside a movi LIST) from the media fixture's ``BinaryType``
    column, walk the chunks with the real parser to extract the frame
    index, and emit per-clip frame stats as exact integers the oracle
    recomputes from the frame-length formula. With q147 (pixels) and
    q152 (PCM samples) this closes the image/audio/video trio at
    content level — and the frame INDEX is the real-world operation:
    at 100 TB you index containers once, then frame-sample (q62) by
    offset without re-walking bytes.

    Scale: parquet binary scan → one index mapInPandas pass; the
    shuffle carries three int64s per clip. Container walking is
    O(bytes) sequential — exactly what a seekable object store
    range-read does per clip.
    """
    import pandas as pd

    clips = media_table(spark, sf_dir).select("doc_id", "video_avi")

    def index_features(batches):
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["video_avi"]):
                frames = decode_avi_index(blob)
                sizes = [n for _, _, n in frames]
                out.append((int(doc_id), len(frames), sum(sizes), max(sizes)))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_frames", "total_frame_bytes", "max_frame_bytes"],
            )

    return clips.mapInPandas(
        index_features,
        "doc_id long, n_frames long, total_frame_bytes long, max_frame_bytes long",
    )

# ---------------------------------------------------------------------------
# L5c: frame sampling by container index (real AVI roundtrip, exact)
# ---------------------------------------------------------------------------


_FRAME_SAMPLE_K = 2  # sample every 2nd frame of the container index


@query(
    "q62_frame_sampling",
    oracle=f"""
    WITH f AS (
      SELECT d.doc_id, k.k,
             16 + (d.doc_id * 7 + k.k * 13) % 64 AS n_bytes
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_AVI_MAX_FRAMES - 1})) AS k) k
      WHERE k.k < 1 + d.doc_id % {_AVI_MAX_FRAMES}
        AND k.k % {_FRAME_SAMPLE_K} = 0
    ),
    b AS (
      SELECT f.doc_id, f.k, f.n_bytes,
             SUM((f.doc_id + f.k + j.j) % 256) AS checksum
      FROM f
      CROSS JOIN (SELECT unnest(generate_series(0, 78)) AS j) j
      WHERE j.j < f.n_bytes
      GROUP BY f.doc_id, f.k, f.n_bytes
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_bytes) AS BIGINT) AS sampled_bytes,
           CAST(MAX(k) AS BIGINT) AS last_sampled_idx,
           CAST(SUM(checksum) AS BIGINT) AS checksum_total
    FROM b
    GROUP BY doc_id
    """,
    tags=("multimodal", "video", "mapInPandas"),
)
def q62_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over STORED bytes (the q153 machinery):
    scan each document's valid RIFF/AVI clip from the media fixture's
    ``BinaryType`` column, build the frame index with the real chunk
    walker, and fetch every {_FRAME_SAMPLE_K}-th frame's payload BY
    INDEX OFFSET (no re-walk), checksummed via a zero-copy
    np.frombuffer view. The checksum proves the index's byte offsets
    are exact — precisely the operation a 100 TB video corpus runs:
    index containers once, then range-read sampled frames from the
    object store by offset. The oracle recomputes every feature from
    the synthetic frame formulas, so any corruption in
    encode → parquet → scan → walk → offset-read breaks the value
    hash.

    Scale: one mapInPandas pass (frame explosion is map-only and
    linear in sampled bytes); the per-doc aggregation combines
    map-side. The sampled-frame rows carry int64s, never payloads.
    """
    import pandas as pd

    clips = media_table(spark, sf_dir).select("doc_id", "video_avi")

    def sampled_frame_rows(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["video_avi"]):
                blob = bytes(blob)
                for idx, off, n in decode_avi_index(blob):
                    if idx % _FRAME_SAMPLE_K:
                        continue
                    # offset range-read; uint8 view summed in int64
                    payload = np.frombuffer(blob, dtype=np.uint8, count=n, offset=off)
                    rows.append((int(doc_id), idx, n, int(payload.sum(dtype=np.int64))))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "n_bytes", "checksum"]
            )

    frames = clips.mapInPandas(
        sampled_frame_rows,
        "doc_id long, frame_idx long, n_bytes long, checksum long",
    )
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_bytes").alias("sampled_bytes"),
        F.max("frame_idx").alias("last_sampled_idx"),
        F.sum("checksum").alias("checksum_total"),
    )


# ---------------------------------------------------------------------------
# L5d (exact): windowed audio features over the real PCM roundtrip
# ---------------------------------------------------------------------------

_AUDIO_WIN = 64  # samples per feature window (256 samples -> 4 windows)


@query(
    "q64_audio_features",
    oracle=f"""
    WITH s AS (
      SELECT d.doc_id, i.i,
             ((d.doc_id * 31 + i.i * 17) % 2048) - 1024 AS v
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_PCM_N - 1})) AS i) i
    ),
    w AS (
      SELECT doc_id, i // {_AUDIO_WIN} AS widx,
             SUM(v * v) AS energy, MAX(abs(v)) AS peak
      FROM s
      GROUP BY doc_id, i // {_AUDIO_WIN}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(energy) AS BIGINT) AS total_energy,
           CAST(MAX(energy) AS BIGINT) AS max_window_energy,
           CAST(MAX(peak) AS BIGINT) AS peak_amplitude
    FROM w
    GROUP BY doc_id
    """,
    tags=("multimodal", "audio", "mapInPandas"),
)
def q64_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features over STORED bytes (the q152 machinery):
    scan each document's complete valid 16-bit mono PCM WAV from the
    media fixture's ``BinaryType`` column, parse header + frames with
    the real decoder, split samples into fixed {_AUDIO_WIN}-sample
    windows, and aggregate per-window integer features (energy Σv²,
    peak max|v|) per clip. Completes the image (q147) / audio /
    video (q62) trio at content level with an exact oracle recomputing
    everything from the sample formula.

    Scale: parquet binary scan → one decode+window mapInPandas pass
    over Arrow batches; the shuffle carries four int64s per clip. All
    features are exact integers (no float mean), so the oracle hash
    is platform-stable.
    """
    import pandas as pd

    clips = media_table(spark, sf_dir).select("doc_id", "audio_wav")

    def windowed_features(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["audio_wav"]):
                v = decode_pcm_array(blob)
                n_win = len(v) // _AUDIO_WIN
                w = v[: n_win * _AUDIO_WIN].reshape(n_win, _AUDIO_WIN)
                energies = (w * w).sum(axis=1)
                peaks = np.abs(w).max(axis=1)
                out.append(
                    (
                        int(doc_id),
                        n_win,
                        int(energies.sum()),
                        int(energies.max()),
                        int(peaks.max()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_windows",
                    "total_energy",
                    "max_window_energy",
                    "peak_amplitude",
                ],
            )

    return clips.mapInPandas(
        windowed_features,
        "doc_id long, n_windows long, total_energy long, "
        "max_window_energy long, peak_amplitude long",
    )


# ---------------------------------------------------------------------------
# L5h: stored-metadata pruning + selective decode / storage profiling
# ---------------------------------------------------------------------------

_PRUNE_MIN_FRAMES = 5  # decode only containers promising >= this many frames


@query(
    "q163_media_pruned_decode",
    oracle=f"""
    WITH f AS (
      SELECT d.doc_id, k.k,
             16 + (d.doc_id * 7 + k.k * 13) % 64 AS n_bytes
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_AVI_MAX_FRAMES - 1})) AS k) k
      WHERE d.doc_id % 2 = 1
        AND 1 + d.doc_id % {_AVI_MAX_FRAMES} >= {_PRUNE_MIN_FRAMES}
        AND k.k < 1 + d.doc_id % {_AVI_MAX_FRAMES}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(n_bytes) AS BIGINT) AS total_frame_bytes
    FROM f
    GROUP BY doc_id
    """,
    tags=("multimodal", "video", "pruning", "mapInPandas"),
)
def q163_media_pruned_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective decode through STORED typed metadata: the media
    fixture's metadata columns (img_format, avi_n_frames) filter the
    corpus AT THE PARQUET SCAN — PushedFilters, pinned by
    tests/test_plans.py — so only PNG-image documents whose container
    index promises >= {_PRUNE_MIN_FRAMES} frames ever cross the Arrow
    boundary into the chunk walker. This is the single most important
    access pattern of a 100 TB multimodal corpus: metadata prunes
    BEFORE any byte of a skipped row's blob is decoded (and, with
    format-level column statistics, often before it is even read).
    The oracle recomputes the surviving population and its frame
    stats from the synthesis formulas, proving both the predicate
    semantics and the decode on the survivors.

    Scale: scan-side filter -> map-only decode of the selected ~25%
    of clips -> per-doc aggregation combining map-side.
    """
    import pandas as pd

    clips = (
        media_table(spark, sf_dir)
        .filter(
            (F.col("img_format") == "png")
            & (F.col("avi_n_frames") >= _PRUNE_MIN_FRAMES)
        )
        .select("doc_id", "video_avi")
    )

    def index_selected(batches):
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["video_avi"]):
                frames = decode_avi_index(blob)
                out.append(
                    (int(doc_id), len(frames), sum(n for _, _, n in frames))
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_frames", "total_frame_bytes"]
            )

    return clips.mapInPandas(
        index_selected, "doc_id long, n_frames long, total_frame_bytes long"
    )


@query(
    "q164_media_storage_profile",
    oracle=f"""
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS img_format,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(SUM(octet_length(encode(text))
                    + CASE WHEN doc_id % 2 = 0
                           THEN {JPEG_HEADER_LEN} ELSE {PNG_HEADER_LEN} END)
               AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))
                    + CASE WHEN doc_id % 2 = 0
                           THEN {JPEG_HEADER_LEN} ELSE {PNG_HEADER_LEN} END)
               AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY 1
    """,
    tags=("multimodal", "binary", "storage"),
)
def q164_media_storage_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage profiling of a stored binary column ENTIRELY JVM-side:
    per-format blob counts and byte totals via octet_length on the
    parquet BinaryType column — no Python boundary, no decode; the
    whole plan is scan -> whole-stage-codegen agg. The oracle
    recomputes every blob's exact size from the synthesis formulas
    (fixed header length + text payload), so the value hash proves the
    stored bytes are the right SIZE end-to-end — the capacity-planning
    query every multimodal corpus runs before anything else.

    Scale: columnar scan reading (img_format, image) only; partial
    aggregation combines map-side; the shuffle carries two groups.
    """
    media = media_table(spark, sf_dir).select("img_format", "image")
    return (
        media.groupBy("img_format")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum(F.octet_length("image")).alias("total_bytes"),
            F.max(F.octet_length("image")).alias("max_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# L5h: frame-delta scene profile (frame-SEQUENCE analytics over the
# real chunk walk — the shot-boundary shape)
# ---------------------------------------------------------------------------

_SCENE_CUT_MIN_DELTA = 1500  # |checksum_k - checksum_{k-1}| >= this = a cut


@query(
    "q245_video_scene_deltas",
    oracle=f"""
    WITH f AS (
      SELECT d.doc_id, k.k,
             16 + (d.doc_id * 7 + k.k * 13) % 64 AS n_bytes
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_AVI_MAX_FRAMES - 1})) AS k) k
      WHERE k.k < 1 + d.doc_id % {_AVI_MAX_FRAMES}
    ),
    b AS (
      SELECT f.doc_id, f.k,
             CAST(SUM((f.doc_id + f.k + j.j) % 256) AS BIGINT) AS checksum
      FROM f
      CROSS JOIN (SELECT unnest(generate_series(0, 78)) AS j) j
      WHERE j.j < f.n_bytes
      GROUP BY f.doc_id, f.k
    ),
    d AS (
      SELECT doc_id, k,
             abs(checksum - lag(checksum) OVER w) AS delta
      FROM b
      WINDOW w AS (PARTITION BY doc_id ORDER BY k)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(CASE WHEN delta >= {_SCENE_CUT_MIN_DELTA}
                      THEN 1 END) AS BIGINT) AS n_cuts,
           CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_delta,
           CAST(COALESCE(SUM(delta), 0) AS BIGINT) AS total_delta
    FROM d
    GROUP BY doc_id
    """,
    tags=("multimodal", "video", "sequence", "mapInPandas"),
)
def q245_video_scene_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-DELTA scene profile over stored AVI bytes: walk every
    clip's frames with the real chunk walker (q153's index), compute
    each frame's payload checksum, and profile the frame-to-frame
    deltas per clip — count of cut-like jumps (delta >=
    {_SCENE_CUT_MIN_DELTA}), max and total delta. This is the
    shot-boundary-detection SHAPE with the codec swapped for the
    container's synthetic payloads: the sequence analytics
    (lag-per-clip over decoded frame features) and its plan are
    exactly what a real scene-cut pass runs after a histogram/SSIM
    UDF, and the oracle recomputes everything from the synthesis
    formulas so the whole decode -> feature -> sequence chain is
    value-checked (single-frame clips report zero cuts/deltas —
    COALESCEd aggregates over their empty delta set).

    Scale: one map-only mapInPandas pass emits (doc_id, frame_idx,
    checksum) int64 rows — payloads never shuffle; the lag runs in a
    doc-partitioned window over <= {_AVI_MAX_FRAMES} rows per clip
    (bounded frames per partition key; a long-video corpus would key
    the window by (clip, minute) exactly like q173's segmented scan);
    the profile aggregation combines map-side.
    """
    import pandas as pd

    from pyspark.sql import Window

    clips = media_table(spark, sf_dir).select("doc_id", "video_avi")

    def frame_rows(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["video_avi"]):
                blob = bytes(blob)
                for idx, off, n in decode_avi_index(blob):
                    payload = np.frombuffer(
                        blob, dtype=np.uint8, count=n, offset=off
                    )
                    rows.append(
                        (int(doc_id), idx, int(payload.sum(dtype=np.int64)))
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "checksum"])

    frames = clips.mapInPandas(
        frame_rows, "doc_id long, frame_idx long, checksum long"
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = frames.select(
        "doc_id",
        "frame_idx",
        F.abs(F.col("checksum") - F.lag("checksum").over(w)).alias("delta"),
    )
    return d.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.count(
            F.when(F.col("delta") >= _SCENE_CUT_MIN_DELTA, 1)
        )
        .cast("long")
        .alias("n_cuts"),
        F.coalesce(F.max("delta"), F.lit(0)).cast("long").alias("max_delta"),
        F.coalesce(F.sum("delta"), F.lit(0)).cast("long").alias("total_delta"),
    )
