"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas functions via
mapInPandas.

Decode depth is tiered by what this environment provides:

- **Container-level image decode is REAL** for PNG / JPEG / GIF / BMP:
  dimensions and channel counts come from pure-header parsing (no imaging
  library needed), and uncompressed 24-bit BMP additionally yields true
  mean luma from the pixel data.
- **WAV audio decode is REAL** (stdlib ``wave`` + numpy PCM RMS).
- Deep pixel decode of compressed formats (JPEG DCT, PNG inflate) engages
  AUTOMATICALLY when PIL is importable in the worker (soft import, cached
  per process); likewise soundfile for non-WAV audio. Without the libs the
  same fields come back from header parsing (or null) rather than failing
  the job (corrupt/unknown files must not kill a 100 TB pipeline).
- ``fake=True`` keeps the deterministic synthetic decoder for plumbing
  tests over non-media payloads.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # image | audio | video
    T.StructField("mime", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),      # opaque bytes
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

IMAGE_FEATURES_SCHEMA = (
    "media_id long, mime string, n_bytes long, width int, height int, "
    "channels int, mean_luma double"
)


def attach_binary_column(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Build a media-shaped DataFrame from any table (test harness: encode a
    text column as the opaque payload)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.create_map(F.lit("origin"), F.lit("synthetic")).alias("meta"),
    )


_NULL_IMG = {"width": None, "height": None, "channels": None, "mean_luma": None}

# Soft-imported optional codecs, resolved once per worker process: False =
# probed and absent, None = not probed yet, module = available.
_PIL_IMAGE = None
_SOUNDFILE = None


def _pil_image():
    global _PIL_IMAGE
    if _PIL_IMAGE is None:
        try:
            from PIL import Image as _img
            _PIL_IMAGE = _img
        except ImportError:
            _PIL_IMAGE = False
    return _PIL_IMAGE or None


def _soundfile_mod():
    global _SOUNDFILE
    if _SOUNDFILE is None:
        try:
            import soundfile as _sf
            _SOUNDFILE = _sf
        except ImportError:
            _SOUNDFILE = False
    return _SOUNDFILE or None


def _deep_image_decode(payload: bytes) -> dict | None:
    """Pixel-level decode when PIL is importable: authoritative dimensions /
    channels plus true mean luma for ANY compressed format PIL reads.
    Returns None (caller falls back to header parsing) when PIL is absent
    or the payload doesn't decode."""
    img_mod = _pil_image()
    if img_mod is None:
        return None
    import io

    import numpy as np

    try:
        with img_mod.open(io.BytesIO(payload)) as im:
            arr = np.asarray(im.convert("L"), dtype=np.float64)
            return {"width": im.width, "height": im.height,
                    "channels": len(im.getbands()),
                    "mean_luma": round(float(arr.mean()) / 255.0, 6)}
    except Exception:
        return None


def _deep_audio_decode(payload: bytes) -> dict | None:
    """Sample-level decode via soundfile when importable (flac/ogg/...);
    None lets the caller fall back to the stdlib WAV path / nulls."""
    sf = _soundfile_mod()
    if sf is None:
        return None
    import io

    import numpy as np

    try:
        data, rate = sf.read(io.BytesIO(payload), dtype="float64",
                             always_2d=True)
    except Exception:
        return None
    duration = data.shape[0] / rate if rate else None
    rms = (round(float(np.sqrt(np.mean(data * data))), 6)
           if data.size else None)
    return {"duration_s": duration, "sample_rate": int(rate), "rms": rms}


def _sniff_image(payload: bytes) -> dict | None:
    """Header-level decode of PNG/JPEG/GIF/BMP. Returns None for unknown
    containers; mean_luma is populated only where the raw pixels are
    reachable without a codec (uncompressed 24-bit BMP)."""
    if len(payload) < 26:
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        # IHDR is the first chunk: length(4) type(4) width(4) height(4)
        # bitdepth(1) colortype(1)
        w, h = struct.unpack(">II", payload[16:24])
        color_type = payload[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
        return {"width": w, "height": h, "channels": channels, "mean_luma": None}
    if payload[:2] == b"\xff\xd8":  # JPEG: walk segments to an SOF marker
        i = 2
        n = len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                return {"width": w, "height": h,
                        "channels": payload[i + 9], "mean_luma": None}
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            i += 2 + seg_len
        return None
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return {"width": w, "height": h, "channels": 3, "mean_luma": None}
    if payload[:2] == b"BM" and len(payload) >= 54:
        w, h = struct.unpack("<ii", payload[18:26])
        bpp = struct.unpack("<H", payload[28:30])[0]
        compression = struct.unpack("<I", payload[30:34])[0]
        out = {"width": w, "height": abs(h), "channels": max(bpp // 8, 1),
               "mean_luma": None}
        if bpp == 24 and compression == 0:
            offset = struct.unpack("<I", payload[10:14])[0]
            px = payload[offset:]
            if px:
                out["mean_luma"] = round(sum(px) / len(px) / 255.0, 6)
        return out
    return None


def decode_image(payload: bytes, fake: bool = False) -> dict:
    """Container-header image decode (PNG/JPEG/GIF/BMP — see module doc).
    Unknown containers yield null fields instead of failing; ``fake=True``
    keeps the deterministic synthetic decoder used by plumbing tests."""
    if fake:
        n = len(payload)
        width = 16 + (n % 64)
        height = 16 + ((n // 64) % 64)
        # exact integer ppm, then one division: float rounding of
        # sum/cnt/255 landed exactly on half-ulp-at-1e-6 boundaries where
        # Python (half-even) and SQL engines (half-up) round apart — the
        # correctness oracle reproduces this integer form bit-exactly
        luma_ppm = (sum(payload[:256]) * 1_000_000) // (max(min(n, 256), 1) * 255)
        return {"width": width, "height": height, "channels": 3,
                "mean_luma": luma_ppm / 1e6}
    return (_deep_image_decode(payload) or _sniff_image(payload)
            or dict(_NULL_IMG))


def extract_image_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, Arrow batches out.
    Partition-parallel; the pandas kernel sees ~10k rows per batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image(p, fake=fake) for p in pdf["payload"]]
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "mime": pdf["mime"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "width": [f["width"] for f in feats],
                "height": [f["height"] for f in feats],
                "channels": [f["channels"] for f in feats],
                "mean_luma": [None if f["mean_luma"] is None
                              else round(f["mean_luma"], 6) for f in feats],
            })
            yield out

    return media.mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, mime string, n_bytes long, duration_s double, "
    "sample_rate int, rms double"
)


_NULL_AUDIO = {"duration_s": None, "sample_rate": None, "rms": None}


def decode_audio(payload: bytes, fake: bool = False) -> dict:
    """REAL decode for WAV containers (stdlib ``wave`` + numpy PCM RMS);
    other containers (mp3/flac/ogg need codecs absent here) yield null
    fields. ``fake=True`` keeps the deterministic synthetic decoder."""
    if fake:
        n = len(payload)
        rate = 16000
        duration = n / 2 / rate  # pretend 16-bit mono PCM
        rms = (sum(b * b for b in payload[:512]) / max(min(n, 512), 1)) ** 0.5 / 255.0
        return {"duration_s": duration, "sample_rate": rate, "rms": rms}
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return _deep_audio_decode(payload) or dict(_NULL_AUDIO)
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload)) as w:
            rate = w.getframerate()
            n_frames = w.getnframes()
            width = w.getsampwidth()
            frames = w.readframes(n_frames)
    except (wave.Error, EOFError):
        return dict(_NULL_AUDIO)
    duration = n_frames / rate if rate else None
    rms = None
    if width == 2 and frames:
        samples = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
        rms = round(float(np.sqrt(np.mean(samples * samples))), 6)
    elif width == 1 and frames:
        samples = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128) / 128.0
        rms = round(float(np.sqrt(np.mean(samples * samples))), 6)
    return {"duration_s": duration, "sample_rate": rate, "rms": rms}


def extract_audio_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas audio feature extraction (same Arrow-batched plumbing as
    the image path)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_audio(p, fake=fake) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "mime": pdf["mime"],
                "n_bytes": [len(p) for p in pdf["payload"]],
                "duration_s": [None if f["duration_s"] is None
                               else round(f["duration_s"], 6) for f in feats],
                "sample_rate": [f["sample_rate"] for f in feats],
                "rms": [None if f["rms"] is None
                        else round(f["rms"], 6) for f in feats],
            })

    return media.mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


def frame_sample_stub(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling plumbing: emits one row per sampled frame index.
    Uses built-in explode on a computed index array (no Python in the hot
    path); the per-frame decode would live in a follow-up mapInPandas."""
    n_frames = (F.length(F.col("payload")) / F.lit(100)).cast("int") + 1
    idx = F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    return media.select(
        "media_id", "kind", "mime",
        F.explode(idx).alias("frame_index"),
        F.col("payload").alias("frame_payload"),
    )


def _parse_mp4_boxes(payload: bytes, start: int = 0,
                     end: int | None = None) -> list[tuple[str, int, int]]:
    """Walk ISO-BMFF box headers: [(type, body_start, body_end)].
    Container-level only — no codec; 64-bit largesize boxes handled."""
    out = []
    i = start
    n = len(payload) if end is None else end
    while i + 8 <= n:
        size = struct.unpack(">I", payload[i:i + 4])[0]
        btype = payload[i + 4:i + 8].decode("latin-1")
        body = i + 8
        if size == 1:                      # 64-bit largesize
            if i + 16 > n:
                break
            size = struct.unpack(">Q", payload[i + 8:i + 16])[0]
            body = i + 16
        elif size == 0:                    # box extends to EOF
            size = n - i
        if size < 8 or i + size > n:
            break
        out.append((btype, body, i + size))
        i += size
    return out


def probe_video_mp4(payload: bytes) -> dict | None:
    """Container-level MP4/ISO-BMFF probe — REAL metadata without any
    codec (the BMP/WAV discipline applied to video): walks boxes to
    moov/mvhd for (timescale, duration) and counts moov/trak boxes.
    Returns {duration_s, timescale, n_tracks} or None for non-MP4
    payloads. mvhd version 0 (32-bit times) and 1 (64-bit) both parsed."""
    boxes = _parse_mp4_boxes(payload)
    if not any(b[0] == "ftyp" for b in boxes):
        return None
    for btype, s, e in boxes:
        if btype != "moov":
            continue
        inner = _parse_mp4_boxes(payload, s, e)
        n_tracks = sum(1 for t, _, _ in inner if t == "trak")
        for t, bs, be in inner:
            if t != "mvhd" or be - bs < 20:
                continue
            version = payload[bs]
            if version == 1 and be - bs >= 28:
                timescale = struct.unpack(">I", payload[bs + 20:bs + 24])[0]
                duration = struct.unpack(">Q", payload[bs + 24:bs + 32])[0]
            else:
                timescale = struct.unpack(">I", payload[bs + 12:bs + 16])[0]
                duration = struct.unpack(">I", payload[bs + 16:bs + 20])[0]
            return {"duration_s": (duration / timescale) if timescale else None,
                    "timescale": timescale, "n_tracks": n_tracks}
        return {"duration_s": None, "timescale": None, "n_tracks": n_tracks}
    return None


def extract_video_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched MP4 probe over the binary column: ``(media_id, mime,
    duration_s, timescale, n_tracks)`` — map-side, container-level, no
    codec dependency; non-MP4 payloads yield nulls."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mime, payload in zip(pdf["media_id"], pdf["mime"],
                                          pdf["payload"]):
                meta = probe_video_mp4(bytes(payload)) or {}
                rows.append((mid, mime, meta.get("duration_s"),
                             meta.get("timescale"), meta.get("n_tracks")))
            yield pd.DataFrame(rows, columns=[
                "media_id", "mime", "duration_s", "timescale", "n_tracks"])

    return media.mapInPandas(
        kernel, schema="media_id long, mime string, duration_s double, "
                       "timescale long, n_tracks long")


# --------------------------------------------------------------------------
# Perceptual image hashing: average-hash (aHash) + difference-hash (dHash)
# over the decoded-pixel path.  Public-knowledge algorithms (the classic
# pHash-family downscale-and-threshold hashes); this implementation is a
# DETERMINISTIC INTEGER variant so a SQL engine can replay the hash
# bit-for-bit from the pixel values:
#
# - downscale = floor-partition block averaging (pixel (x, y) of an HxW
#   image belongs to grid cell (y*rows//H, x*cols//W)) — no interpolation,
#   no float resample kernel;
# - thresholding compares block averages by integer cross-multiplication
#   (sum_a * cnt_b > sum_b * cnt_a), never by dividing;
# - the 64 bits pack little-endian (bit j = grid cell j) into one signed
#   64-bit value, bit 63 landing on the sign bit exactly like
#   dedup.simhash64, so the same Hamming/banding machinery applies.
#
# Reference parity: the reference engine has no image stage (its inputs are
# structured stores, SURVEY §2.1); this is additive LLM-data-pipeline
# surface — the image twin of the text near-dup family (dedup.simhash64 /
# minhash), with the BMP container as the codec-free decodable format in
# this environment (PIL engages automatically when importable).
# --------------------------------------------------------------------------

IMAGE_HASH_SCHEMA = "media_id long, ahash long, dhash long"


def encode_bmp24_gray(gray) -> bytes:
    """Serialize an HxW uint8 grayscale array as an uncompressed 24-bit
    BMP (r=g=b, bottom-up row order, rows padded to 4 bytes) — the
    synthesis half of the BMP pixel path, used by tests and the
    oracle-gated entries to build REAL decodable payloads."""
    import numpy as np

    a = np.asarray(gray, dtype=np.uint8)
    h, w = a.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    flipped = a[::-1]                       # bottom-up storage
    for c in range(3):                      # b, g, r all = gray
        body[:, c:w * 3:3] = flipped
    size = 54 + h * stride
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       h * stride, 2835, 2835, 0, 0)
    return header + info + body.tobytes()


def decode_bmp24_gray(payload: bytes):
    """Decode an uncompressed 24-bit BMP into an HxW int64 luma array
    (integer luma = (299 r + 587 g + 114 b) // 1000, exact for the
    r=g=b images this path synthesizes). Handles bottom-up (positive
    height) and top-down (negative) row order and 4-byte row padding.
    Returns None when the payload is not a decodable 24bpp BMP."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    w, h = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    compression = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    offset = struct.unpack("<I", payload[10:14])[0]
    rows = abs(h)
    stride = (w * 3 + 3) & ~3
    if len(payload) < offset + rows * stride:
        return None
    raw = np.frombuffer(payload, dtype=np.uint8,
                        count=rows * stride, offset=offset)
    raw = raw.reshape(rows, stride)[:, :w * 3].astype(np.int64)
    b = raw[:, 0::3]
    g = raw[:, 1::3]
    r = raw[:, 2::3]
    luma = (r * 299 + g * 587 + b * 114) // 1000
    return luma[::-1] if h > 0 else luma    # back to top-down image space


def image_gray_pixels(payload: bytes):
    """Luma pixels for any decodable image: codec-free BMP fast path,
    PIL fallback for compressed containers when importable (same soft
    import as :func:`_deep_image_decode`); None when undecodable —
    corrupt files must not kill the pipeline."""
    px = decode_bmp24_gray(payload)
    if px is not None:
        return px
    img_mod = _pil_image()
    if img_mod is None:
        return None
    import io

    import numpy as np

    try:
        with img_mod.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("L"), dtype=np.int64)
    except Exception:
        return None


def _pack_bits64(bits) -> int:
    """Pack a flat length-64 boolean sequence into the signed 64-bit value
    whose bit j is bits[j] (bit 63 = sign), matching dedup.simhash64's
    layout so hamming64/banding apply unchanged."""
    v = 0
    for j, b in enumerate(bits):
        if b:
            v |= 1 << j
    return v - (1 << 64) if v >= 1 << 63 else v


def ahash64_gray(gray) -> int:
    """Average-hash: floor-partition the image into an 8x8 grid; bit
    j = (cell by*8+bx) is 1 when the cell's average luma exceeds the
    GLOBAL average (integer cross-multiplied: cell_sum * total_cnt >
    total_sum * cell_cnt). Exact for images up to ~16k x 16k within
    int64 (documented bound)."""
    import numpy as np

    a = np.asarray(gray, dtype=np.int64)
    h, w = a.shape
    ri = (np.arange(h, dtype=np.int64) * 8) // h
    ci = (np.arange(w, dtype=np.int64) * 8) // w
    cell = ri[:, None] * 8 + ci[None, :]
    sums = np.bincount(cell.ravel(), weights=a.ravel().astype(np.float64),
                       minlength=64).astype(np.int64)
    cnts = np.bincount(cell.ravel(), minlength=64).astype(np.int64)
    total_sum = int(sums.sum())
    total_cnt = int(cnts.sum())
    bits = sums * total_cnt > total_sum * cnts
    return _pack_bits64(bits.tolist())


def dhash64_gray(gray) -> int:
    """Difference-hash: floor-partition into an 8-row x 9-column grid;
    bit j = r*8 + c is 1 when band (r, c)'s average luma exceeds band
    (r, c+1)'s — the horizontal-gradient signature, robust to global
    brightness shifts that flip aHash wholesale."""
    import numpy as np

    a = np.asarray(gray, dtype=np.int64)
    h, w = a.shape
    ri = (np.arange(h, dtype=np.int64) * 8) // h
    ci = (np.arange(w, dtype=np.int64) * 9) // w
    cell = ri[:, None] * 9 + ci[None, :]
    sums = np.bincount(cell.ravel(), weights=a.ravel().astype(np.float64),
                       minlength=72).astype(np.int64).reshape(8, 9)
    cnts = np.bincount(cell.ravel(), minlength=72) \
        .astype(np.int64).reshape(8, 9)
    left_s, right_s = sums[:, :8], sums[:, 1:]
    left_c, right_c = cnts[:, :8], cnts[:, 1:]
    bits = left_s * right_c > right_s * left_c     # (8, 8), j = r*8 + c
    return _pack_bits64(bits.ravel().tolist())


def image_hashes(media: DataFrame, id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """Distributed perceptual hashing: one Arrow-batched ``mapInPandas``
    pass turning ``(id, payload)`` into ``(id, ahash, dhash)`` — decode
    rides the scan (per-row stateless, zero shuffle, linear in corpus
    bytes: the correct 100 TB shape, same as htmltext.html_extract).
    Undecodable payloads yield NULL hashes rather than failing the job.
    Feed the result to ``dedup.hamming_banded_pairs`` for near-dup
    pairing — the image twin of the simhash text path."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ah, dh = [], []
            for p in pdf[payload_col]:
                px = image_gray_pixels(p) if p is not None else None
                if px is None or px.size == 0 or min(px.shape) < 1:
                    ah.append(None)
                    dh.append(None)
                else:
                    ah.append(ahash64_gray(px))
                    dh.append(dhash64_gray(px))
            yield pd.DataFrame({"media_id": pdf[id_col],
                                "ahash": pd.array(ah, dtype="Int64"),
                                "dhash": pd.array(dh, dtype="Int64")})

    return media.select(F.col(id_col), F.col(payload_col)) \
        .mapInPandas(kernel, IMAGE_HASH_SCHEMA)


def synth_gray_bmp(df: DataFrame, id_col: str = "doc_id",
                   n_groups: int = 24, n_variants: int = 3,
                   size: int = 32) -> DataFrame:
    """Deterministic synthetic image corpus for the perceptual-hash path:
    one REAL uncompressed 24-bit BMP payload per input row, whose pixels
    are a pure integer function of the row id — so a SQL oracle can
    replay the downstream hash bit-for-bit without decoding bytes.

    Construction (all int64 arithmetic, replayable verbatim in SQL):
    ``g = id % n_groups`` picks a base image
    ``base(g, i) = ((g*2654435761 + i*2246822519 + 3266489917)
    % 2147483648) // 8388608`` (i = y*size + x, value 0..255), and
    ``v = (id // n_groups) % n_variants`` perturbs the first two pixel
    rows: ``px = min(base + 16*v, 255) for i < 2*size`` — same group =
    near-duplicate images (a few Hamming bits apart), different groups =
    unrelated (~32 bits). Output: ``(media_id, payload)``."""
    import numpy as np

    npx = size * size
    nvar = 2 * size

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(npx, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                g = d % n_groups
                v = (d // n_groups) % n_variants
                base = ((g * 2654435761 + i * 2246822519 + 3266489917)
                        % 2147483648) // 8388608
                px = base.copy()
                px[:nvar] = np.minimum(base[:nvar] + 16 * v, 255)
                payloads.append(encode_bmp24_gray(
                    px.reshape(size, size).astype(np.uint8)))
            yield pd.DataFrame({"media_id": pdf[id_col],
                                "payload": payloads})

    return df.select(F.col(id_col)) \
        .mapInPandas(kernel, "media_id long, payload binary")


AUDIO_HASH_SCHEMA = "media_id long, ahash long, dhash long"


def encode_wav_pcm16(samples, rate: int = 8000) -> bytes:
    """Serialize an int16 sample vector as a mono 16-bit PCM WAV (RIFF +
    fmt + data, little-endian) — the synthesis half of the WAV sample
    path, the audio twin of :func:`encode_bmp24_gray`: tests and the
    oracle-gated entries build REAL decodable payloads from it."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    body = a.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)


def wav_pcm16_samples(payload: bytes):
    """Decode a 16-bit PCM WAV into a mono int64 sample vector (stdlib
    ``wave`` + numpy; multi-channel mixes down by integer mean,
    ``sum // n_channels``, so the result stays exact). Returns None for
    anything that is not decodable 16-bit PCM — corrupt files must not
    kill the pipeline (the BMP discipline applied to audio)."""
    import io
    import wave

    import numpy as np

    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(payload)) as w:
            if w.getsampwidth() != 2:
                return None
            nch = w.getnchannels()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError):
        return None
    a = np.frombuffer(frames, dtype="<i2").astype(np.int64)
    if nch > 1:
        a = a[: (a.size // nch) * nch].reshape(-1, nch).sum(axis=1) // nch
    return a


def _band_sums_int64(a, band, n_bands):
    """Exact per-band int64 sums over a sorted band-index vector.

    ``np.bincount(..., weights=...)`` accumulates weights in float64, so
    band sums would silently lose integer exactness past 2^53; this
    instead takes prefix-sum differences in int64 (``band`` is
    monotonic by construction — ``i*k//n``), which is exact until a
    band sum itself exceeds 2^63 (|amplitude| <= 32768, i.e. ~2.8e14
    samples — unreachable for real clips). Empty bands sum to 0."""
    import numpy as np

    csum = np.concatenate((np.zeros(1, dtype=np.int64),
                           np.cumsum(a, dtype=np.int64)))
    edges = np.searchsorted(band, np.arange(n_bands + 1))
    sums = csum[edges[1:]] - csum[edges[:-1]]
    cnts = (edges[1:] - edges[:-1]).astype(np.int64)
    return sums, cnts


def ahash64_audio(samples) -> int:
    """Average-energy hash: floor-partition the waveform into 64 equal
    time bands; bit j = band j's mean |amplitude| exceeds the GLOBAL
    mean |amplitude| (integer cross-multiplied: band_sum * total_cnt >
    total_sum * band_cnt — exact, no float thresholds). Invariant to
    positive volume scaling, the audio analog of
    :func:`ahash64_gray`."""
    import numpy as np

    a = np.abs(np.asarray(samples, dtype=np.int64))
    n = a.size
    band = (np.arange(n, dtype=np.int64) * 64) // n
    sums, cnts = _band_sums_int64(a, band, 64)
    total_sum = int(sums.sum())
    bits = sums * n > total_sum * cnts
    return _pack_bits64(bits.tolist())


def dhash64_audio(samples) -> int:
    """Temporal-gradient hash: floor-partition into 65 bands; bit j is 1
    when band j's mean |amplitude| exceeds band j+1's — the
    louder-or-quieter-than-next envelope signature, robust to global
    gain changes that could flip aHash bits wholesale (the dHash
    discipline applied to audio)."""
    import numpy as np

    a = np.abs(np.asarray(samples, dtype=np.int64))
    n = a.size
    band = (np.arange(n, dtype=np.int64) * 65) // n
    sums, cnts = _band_sums_int64(a, band, 65)
    bits = sums[:64] * cnts[1:] > sums[1:] * cnts[:64]
    return _pack_bits64(bits.tolist())


def audio_hashes(media: DataFrame, id_col: str = "media_id",
                 payload_col: str = "payload") -> DataFrame:
    """Distributed audio fingerprinting: one Arrow-batched
    ``mapInPandas`` pass turning ``(id, payload)`` into ``(id, ahash,
    dhash)`` — decode rides the scan (per-row stateless, zero shuffle,
    linear in corpus bytes, the :func:`image_hashes` shape). Undecodable
    payloads yield NULL hashes. Feed the result to
    ``dedup.hamming_banded_pairs`` for near-dup pairing — the audio
    member of the perceptual near-dup family."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ah, dh = [], []
            for p in pdf[payload_col]:
                sm = wav_pcm16_samples(p) if p is not None else None
                if sm is None or sm.size < 65:
                    ah.append(None)
                    dh.append(None)
                else:
                    ah.append(ahash64_audio(sm))
                    dh.append(dhash64_audio(sm))
            yield pd.DataFrame({"media_id": pdf[id_col],
                                "ahash": pd.array(ah, dtype="Int64"),
                                "dhash": pd.array(dh, dtype="Int64")})

    return media.select(F.col(id_col), F.col(payload_col)) \
        .mapInPandas(kernel, AUDIO_HASH_SCHEMA)


def synth_pcm_wav(df: DataFrame, id_col: str = "doc_id",
                  n_groups: int = 24, n_variants: int = 3,
                  n_samples: int = 2048, rate: int = 8000) -> DataFrame:
    """Deterministic synthetic audio corpus for the fingerprint path:
    one REAL mono 16-bit PCM WAV payload per input row, whose samples
    are a pure integer function of the row id — so a SQL oracle can
    replay the downstream hashes bit-for-bit without touching bytes
    (the :func:`synth_gray_bmp` construction applied to audio).

    Construction (all int64 arithmetic, replayable verbatim in SQL):
    a shared pseudo-noise CARRIER ``c(i) = ((i*2246822519 + 3266489917)
    % 2048) - 1024`` is shaped by a group-dependent per-band GAIN
    ENVELOPE — what an energy-envelope fingerprint actually measures:
    with ``k = i // (n_samples/64)`` the band index and
    ``h = (g*2654435761 + k*2246822519 + 1013904223) % 2^31``,
    ``gain = 1 + (h*h % 2^31) // 2^27`` (1..16; the SQUARE breaks the
    LCG lattice — a linear mix leaves group pairs with near-identical
    envelopes, measured Hamming 1 before the fix), and ``s = c * gain``.
    ``v = (id // n_groups) % n_variants`` adds ``v`` to the gain of the
    first two bands — same group = near-duplicate clips (measured
    ahash Hamming <= 2), different groups = unrelated (>= 22). Output:
    ``(media_id, payload)``."""
    import numpy as np

    # peak sample = carrier peak (1024) x max gain (16 + v, v <=
    # n_variants-1); past int16 range the .astype(np.int16) below would
    # WRAP silently, corrupting samples instead of failing — so fail.
    if 1024 * (16 + n_variants - 1) > 32767:
        raise ValueError(
            f"synth_pcm_wav: n_variants={n_variants} drives peak amplitude "
            f"{1024 * (16 + n_variants - 1)} past int16 (max n_variants=16)")

    band_w = n_samples // 64
    nvar = 2 * band_w

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(n_samples, dtype=np.int64)
        carrier = ((i * 2246822519 + 3266489917) % 2048) - 1024
        k = i // band_w
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                g = d % n_groups
                v = (d // n_groups) % n_variants
                h = (g * 2654435761 + k * 2246822519 + 1013904223) \
                    % 2147483648
                gain = 1 + (h * h % 2147483648) // 134217728
                gain[:nvar] += v
                payloads.append(encode_wav_pcm16(
                    (carrier * gain).astype(np.int16), rate=rate))
            yield pd.DataFrame({"media_id": pdf[id_col],
                                "payload": payloads})

    return df.select(F.col(id_col)) \
        .mapInPandas(kernel, "media_id long, payload binary")


def synth_video_frames(df: DataFrame, id_col: str = "doc_id",
                       n_groups: int = 24, n_variants: int = 3,
                       n_frames: int = 6, size: int = 32) -> DataFrame:
    """Deterministic synthetic video corpus for the clip-hash path: each
    input row becomes ``n_frames`` rows ``(media_id, frame_idx,
    payload)`` of REAL 24-bit BMP frames — the frames-table shape
    ``frame_sample_stub`` produces from a real decoder, with pixels a
    pure integer function of (id, frame, pixel) so a SQL oracle replays
    the downstream per-frame hash and clip vote bit-for-bit.

    Frames are TEMPORALLY CORRELATED the way real video is: every frame
    shares the group's base image (the :func:`synth_gray_bmp` formula)
    and frame f brightens a moving 4-row strip (rows ``4+4f ..
    8+4f``) — motion over a static scene. ``v = (id // n_groups) %
    n_variants`` perturbs rows 0-1 of EVERY frame (``min(base + 16*v,
    255)``), so same-group clips are near-duplicates of each other
    frame-for-frame and the majority vote keeps their clip hashes a few
    bits apart, while different groups land far apart (median ~33
    bits)."""
    import numpy as np

    npx = size * size

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(npx, dtype=np.int64)
        row = i // size
        for pdf in batches:
            ids, fidx, payloads = [], [], []
            for d in pdf[id_col]:
                d = int(d)
                g = d % n_groups
                v = (d // n_groups) % n_variants
                base = ((g * 2654435761 + i * 2246822519 + 3266489917)
                        % 2147483648) // 8388608
                base = np.where(i < 2 * size,
                                np.minimum(base + 16 * v, 255), base)
                for f in range(n_frames):
                    px = np.where((row >= 4 + 4 * f) & (row < 8 + 4 * f),
                                  np.minimum(base + 48, 255), base)
                    ids.append(d)
                    fidx.append(f)
                    payloads.append(encode_bmp24_gray(
                        px.reshape(size, size).astype(np.uint8)))
            yield pd.DataFrame({"media_id": ids, "frame_idx": fidx,
                                "payload": payloads})

    return df.select(F.col(id_col)) \
        .mapInPandas(kernel, "media_id long, frame_idx int, payload binary")


def clip_majority_hash(frames_hashed: DataFrame, hash_col: str = "ahash",
                       id_col: str = "media_id") -> DataFrame:
    """Temporal aggregation of per-frame perceptual hashes into ONE
    64-bit clip fingerprint by bitwise MAJORITY vote (strict: ties go
    to 0) — the published frame-hash-then-aggregate video signature
    shape, robust to any minority of deviating frames (scene motion,
    inserted frames). Entirely JVM-side: 64 codegen'd bit-count
    aggregates in ONE grouped pass (no UDF, one shuffle on the clip
    id), then an integer repack — the same signed-64 layout as
    simhash64/ahash64 so ``dedup.hamming_banded_pairs`` applies
    unchanged. NULL per-frame hashes (undecodable frames) are excluded
    from the vote; a clip with zero decodable frames is dropped.
    Output: ``(id, clip_hash, n_frames)``."""
    h = F.col(hash_col)
    votes = [
        F.sum(F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)))
        .alias(f"__b{j}") for j in range(64)
    ]
    agg = (frames_hashed.where(h.isNotNull())
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_frames"), *votes))
    packed = None
    for j in range(64):
        bit = F.when(
            F.col(f"__b{j}") * 2 > F.col("n_frames"),
            F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j)
        ).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return agg.select(F.col(id_col),
                      packed.cast("long").alias("clip_hash"),
                      F.col("n_frames"))


# ---------------------------------------------------------------------------
# Animated GIF: real container frame extraction (round-11 brief item 3).
# GIF89a is a public format (CompuServe GIF89a spec, 1990; LZW per the
# spec's Appendix F); the codec below is header + variable-width LZW
# parsing in pure Python/NumPy, the same stdlib-feasible tier as the BMP
# and WAV paths — so the video family can start from ONE binary payload
# column instead of a pre-split frames table.
# ---------------------------------------------------------------------------

def _lzw_encode_gif(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW compress (variable code width, LSB-first bit
    packing, CLEAR/EOI codes, 12-bit cap). Width discipline matches the
    canonical giflib pairing: both sides count codes processed and widen
    when the next-assignable code exceeds ``2^width`` (strictly
    greater); the encoder emits CLEAR when the table fills rather than
    running deferred-clear, so any spec decoder stays in sync."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    cur = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code > 4095:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w])
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
    emit(eoi)
    if nbits:
        out.append(cur & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int):
    """GIF-flavor LZW decompress — the exact inverse width discipline of
    :func:`_lzw_encode_gif` (count codes read; widen when the
    next-assignable code exceeds ``2^width``), plus the KwKwK
    first-use case (``code == next_code``). Returns the index bytes, or
    None for a corrupt stream (code beyond the table) — corrupt files
    must not kill the pipeline."""
    if not 1 <= min_code_size <= 11:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: list = [bytes([i]) for i in range(clear)] + [b"", b""]
    # Width counter mirrors the ENCODER's next-assignable code: bumped
    # once per DATA CODE READ (the encoder bumps once per data code
    # emitted), NOT per table add — the decoder's table add lags one
    # code behind the encoder's, so counting adds widens one code late
    # and desyncs the stream right at the 512/1024/2048 boundaries
    # (caught by the round-trip test at exactly n=257 random bytes).
    counter = eoi + 1
    out = bytearray()
    prev = None
    # rolling bit buffer (LSB-first): ~2x the throughput of re-slicing
    # int.from_bytes per code — this loop is the hot path of
    # gif_video_frames and runs per pixel-ish at corpus scale
    buf = 0
    nbuf = 0
    ptr = 0
    n_in = len(data)
    while True:
        while nbuf < code_size:
            if ptr >= n_in:
                return bytes(out)
            buf |= data[ptr] << nbuf
            nbuf += 8
            ptr += 1
        code = buf & ((1 << code_size) - 1)
        buf >>= code_size
        nbuf -= code_size
        if code == clear:
            del table[eoi + 1:]
            code_size = min_code_size + 1
            counter = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        counter += 1
        if counter > (1 << code_size) and code_size < 12:
            code_size += 1
        prev = entry
    return bytes(out)


def _lzw_encode_gif_literal(data: bytes, min_code_size: int = 8) -> bytes:
    """Fully-vectorized VALID GIF LZW stream of pure literal codes: a
    CLEAR before every block of <= 254 literals keeps the code width
    pinned at ``min_code_size+1`` bits (the decoder's width counter
    reaches exactly 2^width at the block boundary — never past it), so
    packing is a fixed-width numpy bit transpose instead of the
    per-symbol dict walk of :func:`_lzw_encode_gif`. ~25x faster at
    +12.5% stream size; any spec decoder accepts it (the classic
    "uncompressed GIF" construction). Used by the SYNTH path, where
    encode cost is scaffolding — the compressing encoder remains the
    round-trip test subject for decoder dictionary growth."""
    import numpy as np

    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    block = (1 << width) - clear - 4        # 252 for min_code_size=8
    if block <= 0:
        # a tiny alphabet leaves no literal room inside one width —
        # the compressing encoder handles those; this fast path is for
        # the byte-wide synth palette
        raise ValueError("literal LZW needs min_code_size >= 3")
    a = np.frombuffer(data, np.uint8)
    parts = [np.array([clear], np.uint16)]
    for i in range(0, a.size, block):
        parts.append(a[i:i + block].astype(np.uint16))
        if i + block < a.size:
            parts.append(np.array([clear], np.uint16))
    parts.append(np.array([eoi], np.uint16))
    codes = np.concatenate(parts)
    bits = ((codes[:, None] >> np.arange(width, dtype=np.uint16)) & 1) \
        .astype(np.uint8).ravel()           # LSB-first per code
    pad = (-bits.size) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, np.uint8)])
    return np.packbits(bits.reshape(-1, 8)[:, ::-1], axis=1) \
        .ravel().tobytes()                  # LSB-first within each byte


def _gif_subblocks(payload: bytes, pos: int):
    """Concatenate a GIF data-sub-block chain starting at ``pos``;
    returns (bytes, position after the 0x00 terminator) or None."""
    chunks = []
    n = len(payload)
    while True:
        if pos >= n:
            return None
        ln = payload[pos]
        pos += 1
        if ln == 0:
            return b"".join(chunks), pos
        if pos + ln > n:
            return None
        chunks.append(payload[pos:pos + ln])
        pos += ln


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif_gray_frames(frames, delay_cs: int = 10,
                           compress: bool = True) -> bytes:
    """Serialize a list of HxW uint8 grayscale arrays as a REAL animated
    GIF89a: logical screen descriptor, 256-entry global gray palette
    (index i -> (i,i,i), so decoded luma == index exactly), a NETSCAPE
    loop extension, and per frame a graphic-control extension + image
    descriptor + real LZW-compressed index data — the synthesis half of
    the GIF frame path (the :func:`encode_bmp24_gray` discipline
    applied to a multi-frame container)."""
    import numpy as np

    assert frames, "need at least one frame"
    h, w = np.asarray(frames[0]).shape
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)   # GCT, 256 entries
    pal = bytearray()
    for i in range(256):
        pal += bytes((i, i, i))
    out += pal
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for fr in frames:
        a = np.asarray(fr, dtype=np.uint8)
        assert a.shape == (h, w), "all frames must share the screen size"
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) \
            + b"\x00\x00"                            # GCE: no transparency
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([8])                            # LZW min code size
        lzw = (_lzw_encode_gif(a.tobytes(), 8) if compress
               else _lzw_encode_gif_literal(a.tobytes(), 8))
        for i in range(0, len(lzw), 255):
            blk = lzw[i:i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_gray_frames(payload: bytes):
    """Decode an animated GIF into a list of HxW int64 LUMA frames —
    REAL container frame extraction: logical-screen/palette parsing,
    graphic-control transparency, per-image sub-rectangle placement,
    interlace reordering, LZW decompression, and frame compositing
    under disposal methods 0/1 (keep) and 2 (restore background), the
    common animated-GIF cases. Luma = (299 r + 587 g + 114 b) // 1000
    exactly like the BMP path, so a gray palette decodes to the palette
    index itself. Returns None when the payload is not a decodable
    GIF87a/GIF89a — corrupt files must not kill the pipeline."""
    import numpy as np

    if payload is None or len(payload) < 13 \
            or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h, packed, bg = struct.unpack("<HHBB", payload[6:12])
    if w == 0 or h == 0:
        return None
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(payload):
            return None
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos) \
            .reshape(n, 3).astype(np.int64)
        pos += 3 * n
    def pal_luma(pal):
        # <= 256 rows; no memo — a cache keyed on id(pal) can serve a
        # STALE vector after GC reuses the id of a dropped local table
        return (pal[:, 0] * 299 + pal[:, 1] * 587 + pal[:, 2] * 114) // 1000

    # The canvas composes in LUMA space, not index space: successive
    # images may carry different LOCAL color tables, and a canvas of
    # indices resolved through the latest frame's palette would recolor
    # pixels painted by earlier frames. Resolving each patch through ITS
    # OWN palette at composite time is what real decoders do.
    bg_idx = bg if gct is not None and bg < len(gct) else 0
    bg_luma = int(pal_luma(gct)[bg_idx]) if gct is not None else 0
    canvas = np.full((h, w), bg_luma, dtype=np.int64)
    frames = []
    transparent = None
    disposal = 0
    n_bytes = len(payload)
    while pos < n_bytes:
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:                                # trailer
            break
        if b0 == 0x21:                                # extension
            if pos >= n_bytes:
                return None
            label = payload[pos]
            pos += 1
            if label == 0xF9 and pos + 1 <= n_bytes:  # graphic control
                got = _gif_subblocks(payload, pos)
                if got is None:
                    return None
                blk, pos = got
                if len(blk) >= 4:
                    flags = blk[0]
                    disposal = (flags >> 2) & 7
                    transparent = blk[3] if flags & 1 else None
            else:                                     # skip other exts
                got = _gif_subblocks(payload, pos)
                if got is None:
                    return None
                _, pos = got
            continue
        if b0 != 0x2C:                                # image descriptor
            return None
        if pos + 9 > n_bytes:
            return None
        left, top, iw, ih, ipk = struct.unpack("<HHHHB", payload[pos:pos + 9])
        pos += 9
        pal = gct
        if ipk & 0x80:                                # local color table
            n = 2 << (ipk & 7)
            if pos + 3 * n > n_bytes:
                return None
            pal = np.frombuffer(payload, np.uint8, 3 * n, pos) \
                .reshape(n, 3).astype(np.int64)
            pos += 3 * n
        if pal is None or pos >= n_bytes:
            return None
        mcs = payload[pos]
        pos += 1
        got = _gif_subblocks(payload, pos)
        if got is None:
            return None
        lzw, pos = got
        idx = _lzw_decode_gif(lzw, mcs)
        if idx is None or len(idx) < iw * ih or iw == 0 or ih == 0 \
                or left + iw > w or top + ih > h:
            return None
        img = np.frombuffer(idx[:iw * ih], np.uint8).reshape(ih, iw) \
            .astype(np.int64)
        if ipk & 0x40:                                # interlaced
            de = np.empty_like(img)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                rows = range(start, ih, step)
                for r in rows:
                    de[r] = img[src]
                    src += 1
            img = de
        if img.max(initial=0) >= len(pal):
            return None
        region = canvas[top:top + ih, left:left + iw]
        before = region.copy()
        patch = pal_luma(pal)[img]
        if transparent is not None:
            # transparency compares INDICES; covered pixels keep the
            # luma already on the canvas
            patch = np.where(img == transparent, region, patch)
        canvas[top:top + ih, left:left + iw] = patch
        frames.append(canvas.copy())
        if disposal == 2:                             # restore background
            canvas[top:top + ih, left:left + iw] = bg_luma
        elif disposal == 3:                           # restore previous
            canvas[top:top + ih, left:left + iw] = before
        transparent = None
        disposal = 0
    return frames if frames else None


def synth_gray_gif(df: DataFrame, id_col: str = "doc_id",
                   n_groups: int = 24, n_variants: int = 3,
                   n_frames: int = 6, size: int = 32) -> DataFrame:
    """Deterministic synthetic VIDEO corpus as ONE binary payload per
    row: a real animated GIF89a whose frames are pixel-identical to
    :func:`synth_video_frames`'s formula (shared base scene + the
    moving brightened strip + the variant-perturbed top rows), palette
    index i -> (i,i,i) so decoded luma == the formula value exactly.
    The container form a real ingest pipeline starts from — the GIF
    twin of :func:`synth_gray_bmp` — and because the pixel math is
    unchanged, the SQL oracle for the downstream hashes replays the
    WHOLE synth->decode->split->hash chain without touching bytes.
    Output: ``(media_id, payload)``."""
    import numpy as np

    npx = size * size

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = np.arange(npx, dtype=np.int64)
        row = i // size
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                d = int(d)
                g = d % n_groups
                v = (d // n_groups) % n_variants
                base = ((g * 2654435761 + i * 2246822519 + 3266489917)
                        % 2147483648) // 8388608
                base = np.where(i < 2 * size,
                                np.minimum(base + 16 * v, 255), base)
                frames = []
                for f in range(n_frames):
                    px = np.where((row >= 4 + 4 * f) & (row < 8 + 4 * f),
                                  np.minimum(base + 48, 255), base)
                    frames.append(px.reshape(size, size).astype(np.uint8))
                # literal-code LZW: encode cost is synthesis scaffolding,
                # and the vectorized literal form is ~25x faster while
                # decoding identically (compress=True covers the
                # dict-growth paths in the unit round-trips)
                payloads.append(encode_gif_gray_frames(frames,
                                                       compress=False))
            yield pd.DataFrame({"media_id": pdf[id_col],
                                "payload": payloads})

    return df.select(F.col(id_col)) \
        .mapInPandas(kernel, "media_id long, payload binary")


def gif_video_frames(media: DataFrame, id_col: str = "media_id",
                     payload_col: str = "payload",
                     max_frames: int = 64) -> DataFrame:
    """REAL container frame extraction: one Arrow-batched
    ``mapInPandas`` pass splitting each animated-GIF payload into its
    composited frames ``(id, frame_idx, payload)`` — the frames-table
    shape :func:`synth_video_frames` fakes, now produced from ONE
    binary column by actual decoding (:func:`gif_gray_frames`: LZW,
    interlace, sub-rect compositing, disposal). Frames are re-encoded
    as 24-bit BMP so the whole existing per-frame pipeline
    (:func:`image_hashes` -> :func:`clip_majority_hash`) applies
    unchanged. Decode rides the scan (per-row stateless, zero shuffle,
    linear in corpus bytes — the 100 TB shape); undecodable payloads
    yield zero rows, and ``max_frames`` caps pathological inputs (a
    million-frame bomb must not blow up a task)."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, payloads = [], [], []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                frames = gif_gray_frames(p) if p is not None else None
                if not frames:
                    continue
                for f, px in enumerate(frames[:max_frames]):
                    ids.append(int(mid))
                    fidx.append(f)
                    payloads.append(encode_bmp24_gray(
                        np.clip(px, 0, 255).astype(np.uint8)))
            yield pd.DataFrame({"media_id": pd.array(ids, dtype="int64"),
                                "frame_idx": pd.array(fidx, dtype="int32"),
                                "payload": payloads})

    return media.select(F.col(id_col), F.col(payload_col)) \
        .mapInPandas(kernel, "media_id long, frame_idx int, payload binary")
