"""Multimodal column plumbing: opaque binary payloads with typed
metadata, decoded/feature-extracted via Arrow-batched mapInPandas.

Design: media travels as a ``binary`` column plus a metadata struct
(mime/width/height/duration); decode and feature extraction run as
mapInPandas over size-rebalanced partitions so one executor batch
holds a bounded number of payload bytes.

Decode coverage: container formats that need NO codec library are
decoded FOR REAL with the stdlib — uncompressed 24-bit BMP and binary
PPM (P6) images (struct/header parsing + numpy reshape) and RIFF/WAVE
PCM audio (stdlib ``wave``). Codec formats (JPEG/PNG/WebP, MP3/AAC,
any video) still raise NotImplementedError — those genuinely require
imaging/audio libraries absent from this environment — and the
deterministic fake decoder remains the corpus path for the registered
oracle-hashed queries (the synthetic payloads are UTF-8 text, not
media containers). Format is sniffed from magic bytes, never trusted
from metadata.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


def make_binary_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a multimodal-shaped table from the documents fixture:
    payload = utf-8 bytes standing in for an encoded image, plus fake
    typed metadata derived deterministically from the id."""
    return docs.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            (F.pmod(F.col(id_col), F.lit(64)) + 32).cast("int").alias("width"),
            (F.pmod(F.col(id_col), F.lit(48)) + 24).cast("int").alias("height"),
        ).alias("meta"),
    )


def sniff_format(payload: bytes) -> str:
    """Container format from magic bytes (never trusted metadata):
    'bmp' / 'ppm' / 'wav' / 'unknown'."""
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:2] == b"P6":
        return "ppm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Parse an uncompressed 24-bit BITMAPINFOHEADER BMP into an
    HxWx3 RGB uint8 array: 4-byte-aligned bottom-up BGR rows per the
    format spec. Pure struct/numpy — no codec involved."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP decodes without a codec (bpp={bpp}, comp={compression})"
        )
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    if data_off < 14 + hdr_size:
        # pixel data cannot start inside the headers — a data_off of 0
        # would silently decode the header bytes as pixels
        raise ValueError(f"BMP data offset {data_off} inside the {14 + hdr_size}-byte headers")
    bottom_up = height > 0
    height = abs(height)
    stride = ((width * 3 + 3) // 4) * 4
    need = data_off + stride * height
    if len(payload) < need:
        raise ValueError(f"truncated BMP pixel data ({len(payload)} < {need})")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * height, offset=data_off)
    rows = rows.reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Parse a binary PPM (P6, maxval <= 255) into HxWx3 RGB uint8:
    whitespace/comment-tolerant header, then raw RGB triplets."""
    pos = 2  # past 'P6'
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    if maxval <= 0:
        raise ValueError(f"bad PPM maxval {maxval}")
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PPM dimensions {width}x{height}")
    # exactly one whitespace byte after maxval per the spec — a
    # malformed header (no separator) must raise, not silently consume
    # a pixel byte and shift the whole image by one
    if not payload[pos : pos + 1].isspace():
        raise ValueError("malformed PPM header: missing whitespace after maxval")
    pos += 1
    need = width * height * 3
    if len(payload) - pos < need:
        raise ValueError(f"truncated PPM pixel data ({len(payload) - pos} < {need})")
    img = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos).reshape(
        height, width, 3
    )
    if maxval != 255:
        # spec: sample values are fractions of maxval — rescale to the
        # uint8 range (half-up integer rounding), else a maxval=15
        # white (15) would silently read near-black
        img = ((img.astype(np.uint32) * 255 + maxval // 2) // maxval).astype(np.uint8)
    return img.copy()


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode an HxWx3 RGB uint8 array as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up BGR rows, 4-byte-aligned) — the sink
    half of the codec-free round trip."""
    h, w = img.shape[0], img.shape[1]
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, RGB->BGR
    pix = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + pix


def encode_ppm(img: np.ndarray) -> bytes:
    """Encode an HxWx3 RGB uint8 array as binary PPM (P6)."""
    h, w = img.shape[0], img.shape[1]
    return f"P6\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def encode_wav(pcm: np.ndarray, rate: int = 8000) -> bytes:
    """Encode int16 mono PCM samples as RIFF/WAVE via the stdlib."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(pcm.astype("<i2").tobytes())
    return buf.getvalue()


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode an encoded image payload to an HxWx3 uint8 RGB array.

    Real decode covers the codec-free containers — uncompressed
    24-bit BMP and binary PPM (P6), sniffed from magic bytes and
    parsed with struct/numpy. Codec formats (JPEG/PNG/...) raise
    NotImplementedError: those need an imaging library this
    environment doesn't ship. The deterministic fake expands the
    payload hash into a fixed 8x8x3 array — the corpus path for the
    registered oracle-hashed queries, whose synthetic payloads are
    UTF-8 text rather than media containers.
    """
    if fake:
        # 8*8*3 = 192 bytes = six repeats of the 32-byte digest.
        digest = hashlib.sha256(payload).digest()
        arr = np.frombuffer((digest * 6)[: 8 * 8 * 3], dtype=np.uint8)
        return arr.reshape(8, 8, 3)
    kind = sniff_format(payload)
    if kind == "bmp":
        return _decode_bmp(payload)
    if kind == "ppm":
        return _decode_ppm(payload)
    raise NotImplementedError(
        "image decode beyond BMP/PPM requires an imaging library (not in this environment)"
    )


def resize_image(img: np.ndarray, size: tuple[int, int] = (4, 4), fake: bool = True) -> np.ndarray:
    """Resize an HxWx3 array. The fake path is deterministic
    nearest-neighbor subsampling (the registered-query path). The
    real path is exact area-average (box) downsampling in numpy —
    deterministic and codec-free; it requires the target to divide
    the source (the thumbnail case) and refuses upscaling rather than
    silently interpolating."""
    h, w = size
    if not fake:
        sh, sw = img.shape[0], img.shape[1]
        if sh % h or sw % w:
            raise NotImplementedError(
                f"real resize is exact box-average only: {sh}x{sw} not divisible by {h}x{w}"
            )
        fy, fx = sh // h, sw // w
        boxes = img.reshape(h, fy, w, fx, img.shape[2]).astype(np.float64)
        return boxes.mean(axis=(1, 3)).astype(np.uint8)  # exact mean, floor to byte
    ys = (np.arange(h) * img.shape[0] // h).astype(int)
    xs = (np.arange(w) * img.shape[1] // w).astype(int)
    return img[np.ix_(ys, xs)]


def extract_thumbnails(mm: DataFrame, size: tuple[int, int] = (4, 4), fake: bool = True) -> DataFrame:
    """mapInPandas thumbnail pipeline: decode → resize → per-channel
    mean. Output (doc_id, thumb_h, thumb_w, mean_r, mean_g, mean_b).
    ``fake=False`` really decodes BMP/PPM payloads and box-averages
    the resize; the default fake path serves the synthetic corpus."""
    h, w = size
    out_schema = "doc_id bigint, thumb_h int, thumb_w int, mean_r double, mean_g double, mean_b double"

    def _thumb(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # corrupt/missing blob -> dropped
                    continue
                img = decode_image(bytes(payload), fake=fake)
                t = resize_image(img, (h, w), fake=fake).astype(np.float64)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "thumb_h": h,
                        "thumb_w": w,
                        "mean_r": float(t[:, :, 0].mean()),
                        "mean_g": float(t[:, :, 1].mean()),
                        "mean_b": float(t[:, :, 2].mean()),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "thumb_h", "thumb_w", "mean_r", "mean_g", "mean_b"]
            )

    return mm.select("doc_id", "payload").mapInPandas(_thumb, schema=out_schema)


N_FRAMES = 3


def sample_frames(payload: bytes, n_frames: int = N_FRAMES, fake: bool = True) -> list[tuple[str, np.ndarray]]:
    """Sample ``n_frames`` frames from a video payload. Real decode
    needs a media library (not in this environment); the deterministic
    fake derives frame i from sha256(content_sha || '-' || i), so the
    Spark-side plumbing AND the SQL oracle can reproduce it exactly.
    Returns [(frame_sha_hex, HxWx3 array), ...]."""
    if not fake:
        raise NotImplementedError("video decode requires a media library")
    content_sha = hashlib.sha256(payload).hexdigest()
    frames = []
    for i in range(n_frames):
        fsha = hashlib.sha256(f"{content_sha}-{i}".encode()).hexdigest()
        digest = bytes.fromhex(fsha)
        arr = np.frombuffer((digest * 6)[: 8 * 8 * 3], dtype=np.uint8).reshape(8, 8, 3)
        frames.append((fsha, arr))
    return frames


def extract_frame_features(mm: DataFrame, n_frames: int = N_FRAMES) -> DataFrame:
    """mapInPandas frame sampler: one output row per (doc, frame) with
    the frame hash and mean byte value — the video-pipeline shape
    (decode → sample → per-frame featurize) with the decode stubbed."""
    out_schema = "doc_id bigint, frame_idx int, frame_sha string, mean_byte double"

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # corrupt/missing blob -> zero frames
                    continue
                for i, (fsha, arr) in enumerate(sample_frames(bytes(payload), n_frames)):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame_sha": fsha,
                            "mean_byte": float(arr.astype(np.float64).mean()),
                        }
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_sha", "mean_byte"])

    return mm.select("doc_id", "payload").mapInPandas(_frames, schema=out_schema)


N_AUDIO_WINDOWS = 4
AUDIO_WINDOW = 64  # samples per analysis window


def _wav_format_tag(payload: bytes) -> tuple[int, int | None] | None:
    """(wFormatTag, extensible SubFormat tag or None) from the RIFF
    fmt chunk, or None when the container is too malformed to carry
    one. Parsed directly from the bytes so the PCM-vs-compressed
    decision never depends on the stdlib ``wave`` error-message
    WORDING (which varies across CPython versions). The declared
    chunk size gates every read — a size-0 fmt chunk must return
    None, not the next chunk's header bytes."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            if size < 2 or pos + 10 > len(payload):
                return None
            (tag,) = struct.unpack_from("<H", payload, pos + 8)
            sub = None
            # WAVE_FORMAT_EXTENSIBLE: the real codec is the first two
            # bytes of the 16-byte SubFormat GUID at fmt offset 24
            if tag == _WAV_TAG_EXTENSIBLE and size >= 26 and pos + 8 + 26 <= len(payload):
                (sub,) = struct.unpack_from("<H", payload, pos + 8 + 24)
            return (tag, sub)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    return None


#: wFormatTag 1 = integer PCM; 0xFFFE = WAVE_FORMAT_EXTENSIBLE, whose
#: subformat may still be PCM — let ``wave`` decide for that one.
_WAV_TAG_PCM, _WAV_TAG_EXTENSIBLE = 1, 0xFFFE


def _wav_data_chunk_intact(payload: bytes) -> bool:
    """True iff the container carries a ``data`` chunk whose declared
    size fits inside the payload. Separates the two reasons ``wave``
    can fail on a WAVE_FORMAT_EXTENSIBLE container: a structurally
    intact file the stdlib reader simply does not understand (a
    capability gap) vs a truncated/corrupted data chunk (a data
    error) — the error object itself does not say which."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return False
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"data":
            return pos + 8 + size <= len(payload)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    return False


def _decode_wav(payload: bytes) -> np.ndarray:
    """Parse RIFF/WAVE PCM with the stdlib ``wave`` module into int16
    samples (first channel of multi-channel audio; 8-bit unsigned PCM
    is centered to int16). Compressed WAVE encodings (wFormatTag read
    from the fmt chunk, not from error text) raise
    NotImplementedError; malformed containers raise ValueError."""
    parsed = _wav_format_tag(payload)
    tag, sub = parsed if parsed is not None else (None, None)
    if tag is not None and tag not in (_WAV_TAG_PCM, _WAV_TAG_EXTENSIBLE):
        raise NotImplementedError(f"non-PCM WAVE (wFormatTag={tag}) needs an audio codec")
    if tag == _WAV_TAG_EXTENSIBLE and sub is not None and sub != _WAV_TAG_PCM:
        raise NotImplementedError(
            f"extensible WAVE with non-PCM SubFormat ({sub}) needs an audio codec"
        )
    try:
        with wave.open(io.BytesIO(payload), "rb") as f:
            n_ch, sw, _rate, n_frames = (
                f.getnchannels(), f.getsampwidth(), f.getframerate(), f.getnframes(),
            )
            raw = f.readframes(n_frames)
    except wave.Error as e:
        if tag == _WAV_TAG_EXTENSIBLE and _wav_data_chunk_intact(payload):
            # the SubFormat GUID said PCM and the data chunk is
            # structurally intact, but this CPython's wave module may
            # not read WAVE_FORMAT_EXTENSIBLE at all — a reader gap,
            # not data corruption. A truncated/corrupted data chunk
            # falls through to the ValueError path below even under
            # the EXTENSIBLE tag (ADVICE r12).
            raise NotImplementedError(
                f"extensible-PCM WAVE not readable by stdlib wave: {e}"
            ) from e
        # the fmt chunk said plain PCM or was unreadable — either way
        # a wave failure here is a DATA error, never a capability gap
        raise ValueError(f"malformed WAVE container: {e}") from e
    except EOFError as e:
        raise ValueError(f"truncated WAVE container: {e}") from e
    if sw == 2:
        pcm = np.frombuffer(raw, dtype="<i2").astype(np.int16)
    elif sw == 1:
        pcm = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) * 256
    else:
        raise NotImplementedError(f"{8 * sw}-bit PCM not supported")
    return pcm[::n_ch].copy() if n_ch > 1 else pcm


def decode_audio(payload: bytes, n_samples: int = N_AUDIO_WINDOWS * AUDIO_WINDOW, fake: bool = True) -> np.ndarray:
    """Decode an audio payload to centered int16 PCM samples.

    Real decode covers RIFF/WAVE PCM via the stdlib ``wave`` module
    (sniffed from magic bytes); compressed audio raises
    NotImplementedError. The deterministic fake chains
    sha256(content_sha || '-a' || i) digests into a byte stream and
    centers to [-128, 127] — the corpus path for the registered
    oracle-hashed queries, whose payloads are not audio containers."""
    if not fake:
        if sniff_format(payload) != "wav":
            raise NotImplementedError(
                "audio decode beyond WAVE/PCM requires an audio library (not in this environment)"
            )
        # always slice: n_samples=0 means zero samples on BOTH paths
        # (the fake path's budget loop runs zero times)
        return _decode_wav(payload)[:n_samples]
    content_sha = hashlib.sha256(payload).hexdigest()
    buf = b""
    i = 0
    while len(buf) < n_samples:
        buf += hashlib.sha256(f"{content_sha}-a{i}".encode()).digest()
        i += 1
    return np.frombuffer(buf[:n_samples], dtype=np.uint8).astype(np.int16) - 128


def extract_audio_features(mm: DataFrame, n_windows: int = N_AUDIO_WINDOWS, fake: bool = True) -> DataFrame:
    """mapInPandas audio featurizer: decode → fixed windows → per-
    window mean absolute amplitude (the audio-pipeline shape: decode →
    frame → featurize, one output row per (doc, window)). mean_abs is
    an exact power-of-two division of an integer sum, so the oracle
    matches bit-for-bit. ``fake=False`` really decodes WAVE/PCM
    payloads via the stdlib parser (short clips yield only the full
    windows they cover)."""
    out_schema = "doc_id bigint, window_idx int, n_samples int, mean_abs double"

    def _audio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # corrupt/missing blob -> zero windows
                    continue
                pcm = decode_audio(bytes(payload), n_windows * AUDIO_WINDOW, fake=fake)
                for w in range(len(pcm) // AUDIO_WINDOW if not fake else n_windows):
                    win = pcm[w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "window_idx": w,
                            "n_samples": AUDIO_WINDOW,
                            "mean_abs": float(np.abs(win).sum()) / AUDIO_WINDOW,
                        }
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "window_idx", "n_samples", "mean_abs"])

    return mm.select("doc_id", "payload").mapInPandas(_audio, schema=out_schema)


def extract_features(mm: DataFrame, batch_target_rows: int = 1024, fake_decode: bool = True) -> DataFrame:
    """mapInPandas feature extractor: payload → byte-histogram feature
    vector (FEATURE_DIM buckets, L1-normalized) + content hash.

    The Arrow batches keep payloads off the driver entirely; at scale
    you repartition by size first so a batch's total payload bytes are
    bounded (here the fixture payloads are tiny).
    """
    out_schema = "doc_id bigint, content_sha string, n_bytes bigint, feature array<float>"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # corrupt/missing blob -> dropped
                    continue
                b = bytes(payload)
                img = decode_image(b, fake=fake_decode)
                hist, _ = np.histogram(img, bins=FEATURE_DIM, range=(0, 256))
                total = float(hist.sum()) or 1.0
                rows.append(
                    {
                        "doc_id": doc_id,
                        "content_sha": hashlib.sha256(b).hexdigest(),
                        "n_bytes": len(b),
                        "feature": (hist / total).astype(np.float32),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "content_sha", "n_bytes", "feature"]
            )

    return mm.select("doc_id", "payload").repartition(
        max(1, mm.sparkSession.sparkContext.defaultParallelism)
    ).mapInPandas(_extract, schema=out_schema)
