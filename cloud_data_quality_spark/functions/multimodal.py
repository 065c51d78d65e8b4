"""Multimodal (image/audio/video) column plumbing.

Media travels as opaque `binary` columns with typed metadata (the pages table
carries `html:binary`). The Spark-side plumbing — schema, partition-preserving
mapInPandas stages, Arrow batch shapes, bounded batch sizes for large blobs —
is real and tested. Header decode (PNG/GIF/JPEG images, WAV audio,
MP4 video) is real too: pure byte-slicing at documented offsets, no codec
library needed. Every metadata stage shares one shell (`_blob_header_stage`);
blobs no parser recognizes become format='INVALID' rows with NULL fields.
Full pixel decode and video frame extraction still need a codec this
container doesn't ship (Pillow/av); `frame_sample_stub` keeps the frame
stage's plumbing shape.

At scale the rules are: (1) never collect blobs; (2) bound
spark.sql.execution.arrow.maxRecordsPerBatch so a batch of blobs fits in the
Python worker (session factory sets 2048; drop to ~64 for multi-MB media);
(3) decode inside mapInPandas so the blob never round-trips.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = ("width int, height int, channels int, format string, "
                     "content_sha256 string")

#: PNG color type (IHDR byte 25) → sample channels per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: JPEG SOFn markers that carry frame dimensions (C4=DHT, C8=JPG, CC=DAC
#: are table/extension segments, not frames)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def parse_image_header(b: bytes) -> tuple[int, int, int, str] | None:
    """(width, height, channels, format) from real image header bytes, or
    None if the blob isn't a recognized PNG/GIF/JPEG. Pure byte-slicing at
    the formats' documented offsets — no codec dependency:

    * PNG: 8-byte signature, then the IHDR chunk at a fixed offset —
      width/height are big-endian uint32 at bytes 16/20, color type at 25.
    * GIF: 'GIF87a'/'GIF89a', then logical-screen width/height as
      little-endian uint16 at bytes 6/8; palette images decode to RGB.
    * JPEG: SOI then a marker walk (each segment = 0xFF, type, big-endian
      length including itself) to the first SOFn frame header: height and
      width are big-endian uint16 at segment bytes 3/5, component count
      (= channels) at byte 7.
    """
    if len(b) >= 26 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        channels = _PNG_CHANNELS.get(b[25])
        if channels is None or not (0 < w and 0 < h):
            return None
        return w, h, channels, "PNG"
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        if not (0 < w and 0 < h):
            return None
        return w, h, 3, "GIF"
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xFF:          # fill byte
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2                # standalone markers, no length
                continue
            if marker == 0xD9:          # EOI before any SOF
                return None
            (seg_len,) = struct.unpack(">H", b[pos + 2:pos + 4])
            if seg_len < 2:
                return None
            if marker in _JPEG_SOF:
                if pos + 9 >= len(b):
                    return None
                h, w = struct.unpack(">HH", b[pos + 5:pos + 9])
                channels = b[pos + 9]
                if not (0 < w and 0 < h and 0 < channels):
                    return None
                return w, h, channels, "JPEG"
            pos += 2 + seg_len
        return None
    return None


# ------------------------- deterministic fixture builders (tests + oracle)

def make_png(width: int, height: int, color_type: int = 6) -> bytes:
    """Minimal PNG with a real signature + IHDR (CRC zeroed — header
    parsers don't checksum) — byte-identical to the SQL fixture fragment
    the registry oracle builds via unhex()."""
    ihdr = struct.pack(">II", width, height) + bytes(
        [8, color_type, 0, 0, 0])
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + ihdr + b"\x00\x00\x00\x00")


def make_gif(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\xf7\x00\x00"


def make_jpeg(width: int, height: int) -> bytes:
    """SOI + JFIF APP0 + SOF0 (3 components) + EOI — the marker walk the
    parser performs is exercised for real (APP0 must be skipped by its
    declared length before SOF0 is found)."""
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", height, width)
            + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _try_import_pillow():
    try:
        from PIL import Image  # noqa: F401
        return Image
    except ImportError:
        return None


def _blob_header_stage(df: DataFrame, blob_col: str, meta_schema: str,
                       parse: Callable[[bytes], tuple | None],
                       format_col: str, sha_col: str) -> DataFrame:
    """`df` plus the `meta_schema` columns, filled per blob in one
    mapInPandas pass. `parse(bytes)` returns the values of every
    meta_schema field except `sha_col`, in schema order, or None for an
    unrecognized blob — which becomes a `format_col`='INVALID' row with
    NULL fields (invalid media is data to filter, not an exception to
    crash 10^12 rows on). `sha_col` is the sha256 of the bytes; a NULL
    blob yields all-NULL fields."""
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [meta_schema])
    fields = [f.split()[0] for f in meta_schema.split(", ")]
    parsed_fields = [k for k in fields if k != sha_col]
    invalid = tuple("INVALID" if k == format_col else None
                    for k in parsed_fields)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = {k: [] for k in fields}
            for blob in pdf[blob_col]:
                if blob is None:
                    for k in metas:
                        metas[k].append(None)
                    continue
                b = bytes(blob)
                metas[sha_col].append(hashlib.sha256(b).hexdigest())
                for k, v in zip(parsed_fields, parse(b) or invalid):
                    metas[k].append(v)
            yield pdf.assign(**metas)

    return df.mapInPandas(stage, schema=out_schema)


def image_metadata(df: DataFrame, blob_col: str = "html") -> DataFrame:
    """Per-blob image metadata via mapInPandas. PNG/GIF/JPEG headers are
    decoded for real (`parse_image_header` — pure byte-slicing, no codec
    library); Pillow, when present, extends coverage to every format it
    knows. Anything else is a format='INVALID' row with NULL dims."""
    pillow = _try_import_pillow()

    def parse(b: bytes) -> tuple[int, int, int, str] | None:
        parsed = parse_image_header(b)
        if parsed is None and pillow is not None:
            import io
            try:
                img = pillow.open(io.BytesIO(b))
                parsed = (img.width, img.height,
                          len(img.getbands()), img.format or "UNKNOWN")
            except Exception:
                parsed = None
        return parsed

    return _blob_header_stage(df, blob_col, IMAGE_META_SCHEMA, parse,
                              "format", "content_sha256")


def media_filter(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    min_dim: int = 32,
    max_dim: int = 8192,
    formats: list[str] | None = None,
    drop_undecodable: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Media hygiene for a mixed (text, blob:binary) corpus — the binary-
    column counterpart of the text quality gates, so `curate` can clean
    both columns of a multimodal table (reference anchor: CloudDQ binds
    rules per typed column including BYTES,
    clouddq/classes/dq_entity_column.py:26-34).

    Gates, applied only to rows whose blob is NON-NULL (text-only rows
    pass untouched — no media means nothing to filter):

    * undecodable blobs (no PNG/GIF/JPEG header) drop when
      drop_undecodable;
    * images with width or height outside [min_dim, max_dim] drop
      (favicon/tracking-pixel floor, decompression-bomb ceiling);
    * when `formats` is given, anything not in it drops;
    * when `dedup`, exact blob duplicates collapse to the min-id row
      (sha256 of the raw bytes as the fingerprint — computed once in the
      same Arrow pass as the header parse).

    Returns the surviving rows with the ORIGINAL columns.

    Scale shape: the parse+gate is one narrow mapInPandas stage (no
    shuffle); dedup is one hash shuffle on the digest with map-side
    partial min — the same two-level exact-dedup shape as dedup_exact,
    keyed on a 64-hex-char digest instead of raw bytes so a hot
    duplicate blob (a site logo repeated 10^7 times) shuffles 64 bytes
    per row, never the blob."""
    cols = df.columns
    meta = image_metadata(df, blob_col=blob_col)
    has_blob = F.col(blob_col).isNotNull()
    decodable_ok = ((F.col("width") >= min_dim)
                    & (F.col("width") <= max_dim)
                    & (F.col("height") >= min_dim)
                    & (F.col("height") <= max_dim))
    if formats:
        decodable_ok = decodable_ok & F.col("format").isin(*formats)
    # INVALID rows have NULL dims — gate them on the policy flag, never
    # on a NULL comparison (which would silently drop them regardless)
    ok = F.when(F.col("format") == "INVALID",
                F.lit(not drop_undecodable)).otherwise(decodable_ok)
    survivors = meta.where(~has_blob | ok)
    if not dedup:
        return survivors.select(*cols)
    keep_ids = (survivors.where(has_blob)
                .groupBy("content_sha256")
                .agg(F.min(id_col).alias(id_col))
                .select(id_col))
    deduped = survivors.where(has_blob).join(keep_ids, id_col, "left_semi")
    return deduped.unionByName(survivors.where(~has_blob)).select(*cols)


def frame_sample_stub(df: DataFrame, blob_col: str = "html",
                      every_n_bytes: int = 4096) -> DataFrame:
    """Video frame-sampling stand-in: emits one row per sampled offset with a
    digest of the window — the explode/repartition shape of real frame
    extraction without a codec. Schema: (orig cols…, frame_no int,
    frame_sha256 string)."""
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["frame_no int", "frame_sha256 string"]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                blob = row[blob_col]
                if blob is None:
                    continue
                b = bytes(blob)
                for frame_no, off in enumerate(range(0, max(len(b), 1),
                                                     every_n_bytes)):
                    rows.append({**row.to_dict(), "frame_no": frame_no,
                                 "frame_sha256": hashlib.sha256(
                                     b[off:off + every_n_bytes]).hexdigest()})
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=list(pdf.columns) + ["frame_no", "frame_sha256"])

    return df.mapInPandas(stage, schema=out_schema)


AUDIO_META_SCHEMA = ("sample_rate int, audio_channels int, "
                     "bits_per_sample int, n_frames bigint, "
                     "duration_ms bigint, audio_format string, "
                     "audio_sha256 string")


def parse_audio_header(b: bytes) -> tuple[int, int, int, int, int] | None:
    """(sample_rate, channels, bits_per_sample, n_frames, duration_ms)
    from real RIFF/WAVE header bytes, or None if the blob isn't a
    recognized WAV. Pure byte-slicing, no codec dependency:

    * 12-byte RIFF header: 'RIFF' + LE u32 chunk size + 'WAVE';
    * then a generic chunk walk (4-byte id, LE u32 size, even-padded
      payload): the 'fmt ' chunk carries channels (LE u16 at +2),
      sample_rate (LE u32 at +4), block_align (LE u16 at +12) and
      bits_per_sample (LE u16 at +14); the 'data' chunk's DECLARED size
      gives n_frames = data_size // block_align — the payload itself is
      never required, so truncated/headers-only blobs (the realistic
      header-scan case at corpus scale) still parse.
    * duration_ms = n_frames * 1000 // sample_rate — integer arithmetic,
      bit-replayable by the SQL oracle.
    """
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt = None
    data_size = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4:pos + 8])
        if cid == b"fmt " and size >= 16 and pos + 8 + 16 <= len(b):
            audio_format, channels, sample_rate = struct.unpack(
                "<HHI", b[pos + 8:pos + 16])
            block_align, bits = struct.unpack(
                "<HH", b[pos + 20:pos + 24])
            if channels and sample_rate and block_align:
                fmt = (channels, sample_rate, block_align, bits)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)   # chunks are even-padded
    if fmt is None or data_size is None:
        return None
    channels, sample_rate, block_align, bits = fmt
    n_frames = data_size // block_align
    duration_ms = n_frames * 1000 // sample_rate
    return sample_rate, channels, bits, n_frames, duration_ms


def make_wav(sample_rate: int, channels: int, bits: int,
             n_frames: int) -> bytes:
    """Canonical 44-byte PCM WAV header with a declared (absent) data
    payload — byte-identical to the SQL hex fragment the registry oracle
    builds via unhex(), same contract as make_png/make_gif/make_jpeg."""
    block_align = channels * bits // 8
    data_size = n_frames * block_align
    return (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels,
                                    sample_rate, sample_rate * block_align,
                                    block_align, bits)
            + b"data" + struct.pack("<I", data_size))


def audio_metadata(df: DataFrame, blob_col: str = "html") -> DataFrame:
    """Per-blob audio metadata via mapInPandas — the audio twin of
    image_metadata. WAV headers are decoded for real
    (`parse_audio_header`); full sample decode (MP3/FLAC/OGG) needs a
    codec this container doesn't ship, so non-WAV blobs become
    audio_format='INVALID' rows with NULL fields."""
    def parse(b: bytes) -> tuple | None:
        parsed = parse_audio_header(b)
        return None if parsed is None else (*parsed, "WAV")

    return _blob_header_stage(df, blob_col, AUDIO_META_SCHEMA, parse,
                              "audio_format", "audio_sha256")


VIDEO_META_SCHEMA = ("v_timescale int, v_duration bigint, "
                     "v_duration_ms bigint, v_width int, v_height int, "
                     "video_format string, video_sha256 string")


def parse_video_header(b: bytes) -> tuple[int, int, int, int, int] | None:
    """(timescale, duration, duration_ms, width, height) from real
    MP4/ISO-BMFF header bytes, or None if the blob isn't recognized.
    Pure byte-slicing over the box grammar (u32-BE size + fourcc; size 1
    = 64-bit extended size; size 0 = to-EOF):

    * top level must contain `ftyp` (brand check) and `moov`;
    * `moov/mvhd` carries timescale + duration (v0: u32s at +12/+16;
      v1: u32 timescale at +20, u64 duration at +24);
    * the first `moov/trak/tkhd` carries width/height as 16.16 fixed-point
      u32s in the box's last 8 bytes (v0 offset +76, v1 +88) — the
      integer part is taken, fractional pixels are a spec curiosity;
    * duration_ms = duration * 1000 // timescale (integer arithmetic,
      bit-replayable by the SQL oracle).

    Like parse_audio_header, only box headers are required — a
    headers-only prefix of a 10 GB video parses fine, the posture for
    header scans at corpus scale."""

    def walk(buf, start, end):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", buf[pos:pos + 4])
            kind = buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    return
                (size,) = struct.unpack(">Q", buf[pos + 8:pos + 16])
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr:
                return
            yield kind, pos + hdr, min(pos + size, end)
            pos += size

    if len(b) < 12:
        return None
    have_ftyp = False
    mvhd = tkhd = None
    for kind, s, e in walk(b, 0, len(b)):
        if kind == b"ftyp":
            have_ftyp = True
        elif kind == b"moov":
            for k2, s2, e2 in walk(b, s, e):
                if k2 == b"mvhd" and mvhd is None:
                    mvhd = (s2, e2)
                elif k2 == b"trak" and tkhd is None:
                    for k3, s3, e3 in walk(b, s2, e2):
                        if k3 == b"tkhd":
                            tkhd = (s3, e3)
                            break
    if not have_ftyp or mvhd is None:
        return None
    s, e = mvhd
    if e - s < 20:
        return None
    version = b[s]
    if version == 1:
        if e - s < 32:
            return None
        (timescale,) = struct.unpack(">I", b[s + 20:s + 24])
        (duration,) = struct.unpack(">Q", b[s + 24:s + 32])
    else:
        timescale, duration = struct.unpack(">II", b[s + 12:s + 20])
    if not timescale:
        return None
    width = height = 0
    if tkhd is not None:
        s, e = tkhd
        off = s + (88 if b[s] == 1 else 76)
        if off + 8 <= e:
            w_fx, h_fx = struct.unpack(">II", b[off:off + 8])
            width, height = w_fx >> 16, h_fx >> 16
    return timescale, duration, duration * 1000 // timescale, width, height


def make_mp4(timescale: int, duration: int, width: int,
             height: int) -> bytes:
    """Minimal ISO-BMFF header: ftyp + moov(mvhd v0 + trak(tkhd v0)) with
    16.16 fixed-point dims — byte-identical to the SQL hex fragment the
    registry oracle builds via unhex(), same contract as make_wav."""
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
    mvhd = (struct.pack(">I", 108) + b"mvhd" + bytes(4)        # v0+flags
            + bytes(8)                                         # c/m time
            + struct.pack(">II", timescale, duration)
            + struct.pack(">I", 0x00010000)[:4]                # rate 1.0
            + struct.pack(">H", 0x0100) + bytes(10)            # volume+rsvd
            + struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0,
                          0, 0, 0x40000000)                    # unity matrix
            + bytes(24) + struct.pack(">I", 2))                # next track
    tkhd = (struct.pack(">I", 92) + b"tkhd" + bytes(4)
            + bytes(8) + struct.pack(">I", 1) + bytes(4)       # track id
            + struct.pack(">I", duration) + bytes(8)
            + bytes(8)                                         # layer..rsvd
            + struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0,
                          0, 0, 0x40000000)
            + struct.pack(">II", width << 16, height << 16))
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" \
        + mvhd + trak
    return ftyp + moov


def video_metadata(df: DataFrame, blob_col: str = "html") -> DataFrame:
    """Per-blob video metadata via mapInPandas — completes the
    image/audio/video header-decode trio. MP4/ISO-BMFF headers are decoded
    for real (`parse_video_header`); frame/sample decode needs a codec
    (av/ffmpeg) this container doesn't ship — frame_sample_stub keeps that
    stage's plumbing shape. Unrecognized blobs become
    video_format='INVALID' rows with NULL fields."""
    def parse(b: bytes) -> tuple | None:
        parsed = parse_video_header(b)
        return None if parsed is None else (*parsed, "MP4")

    return _blob_header_stage(df, blob_col, VIDEO_META_SCHEMA, parse,
                              "video_format", "video_sha256")
