"""Multimodal (image/audio/video) columns for the training-data pipeline:
payloads are opaque `binary` columns with a typed metadata struct;
decode/feature steps are Arrow-batched UDFs.

Decoders:
- ``decoder='real'`` REALLY decodes the library-free formats — PPM (P6)
  and BMP (24-bit uncompressed) images via numpy header/byte parsing, WAV
  (PCM16) audio via the stdlib ``wave`` module — then grayscales /
  block-means images and RMS-pools audio into a fixed-length feature.
  Compressed codecs (JPEG/H.264/...) would need external libraries not in
  this container; those payloads raise NotImplementedError with the codec
  name (plug a PIL/ffmpeg branch into ``_decode_real`` — batch shape and
  output schema stay identical).
- ``decoder='fake'`` is the deterministic stand-in with the same shapes
  (kept for scale tests where payload generation must be free).
"""

from __future__ import annotations

import io
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int, codec:string>"
)
RESIZE_TO = 8  # features are RESIZE_TO² block means / RMS chunks
FRAME_SAMPLES = 4  # frames video_frame_features samples per clip
SAMPLE_RATE = 16000  # Hz of the WAV payloads


def _media_row(i: int, kind: str, payload_format: str) -> tuple:
    w, h = 32 + i % 64, 32 + (i * 3) % 64
    if payload_format == "fake":
        payload = bytes(((i * 131 + k * 17) % 251) for k in range(64))
        codec = "fake"
    elif payload_format in ("ppm", "bmp"):
        yy, xx, cc = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        rgb = ((i * 131 + yy * 7 + xx * 13 + cc * 29) % 256).astype(np.uint8)
        payload = encode_ppm(rgb) if payload_format == "ppm" else encode_bmp(rgb)
        codec = payload_format
    elif payload_format == "wav":
        n_s = 1600 + (i * 37) % 800
        t = np.arange(n_s)
        samples = (np.sin(t * (0.01 + (i % 10) * 0.003)) * 8000.0).astype(np.int16)
        payload = encode_wav(samples)
        codec = "pcm16"
    elif payload_format == "rawvid":
        w, h = 24 + i % 16, 24 + (i * 3) % 16
        nf = 4 + i % 6
        ff, yy, xx = np.meshgrid(
            np.arange(nf), np.arange(h), np.arange(w), indexing="ij"
        )
        frames = ((i * 131 + ff * 59 + yy * 7 + xx * 13) % 256).astype(np.uint8)
        payload = encode_rawvid(frames)
        codec = "rawvid"
        return (
            i, kind, payload,
            {"width": w, "height": h, "n_frames": nf,
             "sample_rate": 0, "codec": codec},
        )
    else:
        raise ValueError("payload_format must be fake | ppm | bmp | wav | rawvid")
    return (
        i, kind, payload,
        {"width": w, "height": h, "n_frames": 1 + i % 30,
         "sample_rate": SAMPLE_RATE, "codec": codec},
    )


def make_media_table(
    spark, n: int, kind: str = "image", payload_format: str = "fake"
) -> DataFrame:
    """Deterministic media rows for testing at any scale. ``fake`` payloads
    are seeded bytes; ``ppm``/``bmp``/``wav`` are REAL encoded files (a
    deterministic RGB gradient / int16 sine), decodable by the
    library-free real decoder."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_media_row(int(i), kind, payload_format) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    # size partitions to the row count: spark.range defaults to one slice
    # per core, and a 200-row table across 32 slices means 32 python-worker
    # round-trips for a few rows each
    parts = max(1, min(spark.sparkContext.defaultParallelism, n // 64 + 1))
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, MEDIA_SCHEMA)


def _fake_decode(payload: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic stand-in 'decode': tile the payload bytes to (h, w)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(w * h / len(arr)))
    return np.tile(arr, reps)[: w * h].reshape(h, w)


# --- real, library-free codecs ------------------------------------------------

def encode_ppm(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6)."""
    h, w, _ = rgb.shape
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (h, w, 3) uint8. Header: magic, dims, maxval,
    single whitespace before the raster."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    parts: list[int] = []
    i = 2
    while len(parts) < 3:
        while payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment line
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while not payload[j : j + 1].isspace():
            j += 1
        parts.append(int(payload[i:j]))
        i = j
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    i += 1  # the single whitespace byte after maxval
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i).reshape(h, w, 3)


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 24-bit uncompressed BMP (BGR, bottom-up rows
    padded to 4 bytes — the classic Windows DIB layout)."""
    h, w, _ = rgb.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += rgb[y, :, ::-1].astype(np.uint8).tobytes() + b"\x00" * pad
    size = 54 + len(body)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"\x00" * 4  # BI_RGB (uncompressed)
        + len(body).to_bytes(4, "little") + b"\x00" * 16
    )
    return bytes(header) + bytes(body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB."""
    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP")
    offset = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit uncompressed BMP supported")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    raster = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raster.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR → RGB


def encode_wav(samples: np.ndarray) -> bytes:
    """int16 mono samples → WAV (PCM16) at ``SAMPLE_RATE``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(SAMPLE_RATE)
        wv.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV (PCM16) → (mono int16 samples, sample_rate); multi-channel is
    averaged to mono."""
    with wave.open(io.BytesIO(payload), "rb") as wv:
        if wv.getsampwidth() != 2:
            raise ValueError("only PCM16 WAV supported")
        n_ch = wv.getnchannels()
        rate = wv.getframerate()
        raw = np.frombuffer(wv.readframes(wv.getnframes()), dtype="<i2")
    if n_ch > 1:
        raw = raw.reshape(-1, n_ch).mean(axis=1).astype(np.int16)
    return raw, rate


def _grayscale(rgb: np.ndarray) -> np.ndarray:
    return (0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2])


def _block_mean(img: np.ndarray, resize_to: int) -> np.ndarray:
    h, w = img.shape
    ys = np.linspace(0, h, resize_to + 1).astype(int)
    xs = np.linspace(0, w, resize_to + 1).astype(int)
    out = np.empty((resize_to, resize_to))
    for a in range(resize_to):
        for b in range(resize_to):
            blk = img[ys[a]:max(ys[a + 1], ys[a] + 1),
                      xs[b]:max(xs[b + 1], xs[b] + 1)]
            out[a, b] = blk.mean()
    return out


def _decode_real(payload: bytes, codec: str, resize_to: int) -> np.ndarray:
    """payload → fixed-length feature vector (resize_to² float32). Images:
    grayscale + block-mean / 255. Audio: RMS energy per equal chunk,
    normalized by int16 full scale."""
    if payload.startswith(b"P6"):
        img = _grayscale(decode_ppm(payload).astype(np.float64))
        return (_block_mean(img, resize_to) / 255.0).ravel().astype(np.float32)
    if payload.startswith(b"BM"):
        img = _grayscale(decode_bmp(payload).astype(np.float64))
        return (_block_mean(img, resize_to) / 255.0).ravel().astype(np.float32)
    if payload.startswith(b"RIFF"):
        samples, _rate = decode_wav(payload)
        x = samples.astype(np.float64)
        n_blocks = resize_to * resize_to
        edges = np.linspace(0, len(x), n_blocks + 1).astype(int)
        feat = np.empty(n_blocks)
        for b in range(n_blocks):
            blk = x[edges[b]:max(edges[b + 1], edges[b] + 1)]
            feat[b] = np.sqrt((blk * blk).mean())
        return (feat / 32768.0).astype(np.float32)
    raise NotImplementedError(
        f"codec {codec!r}: compressed formats need external decoder "
        "libraries not in this container; plug PIL/ffmpeg into _decode_real"
    )


def decode_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """→ (media_id, kind, feat array<float>): decode → fixed-length
    feature (RESIZE_TO² floats: block-mean grayscale for images, RMS
    chunks for audio). 'real' decodes PPM/BMP/WAV payloads with the
    library-free codecs; unsupported codecs raise NotImplementedError."""
    if decoder not in ("fake", "real"):
        raise ValueError("decoder must be 'fake' or 'real'")
    resize_to = RESIZE_TO

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                if decoder == "real":
                    feats.append(
                        _decode_real(bytes(payload), str(meta["codec"]), resize_to).tolist()
                    )
                    continue
                w, h = int(meta["width"]), int(meta["height"])
                img = _fake_decode(bytes(payload), w, h).astype(np.float64)
                out = _block_mean(img, resize_to)
                feats.append((out / 255.0).ravel().astype(np.float32).tolist())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "feat": feats}
            )

    return media.mapInPandas(run, "media_id long, kind string, feat array<float>")


# --- raw video (uncompressed frame stack) ------------------------------------

def encode_rawvid(frames: np.ndarray) -> bytes:
    """(n, h, w) uint8 grayscale frames → RV01 container: magic + w/h/n
    little-endian uint32 header + concatenated rasters. An uncompressed
    wire format (YUV-raw style) decodable with no codec library; H.264 &
    friends remain the documented NotImplementedError plug point."""
    n, h, w = frames.shape
    header = b"RV01" + w.to_bytes(4, "little") + h.to_bytes(4, "little") + n.to_bytes(4, "little")
    return header + frames.astype(np.uint8).tobytes()


def decode_rawvid(payload: bytes) -> np.ndarray:
    """RV01 → (n, h, w) uint8."""
    if payload[:4] != b"RV01":
        raise ValueError("not an RV01 raw video")
    w = int.from_bytes(payload[4:8], "little")
    h = int.from_bytes(payload[8:12], "little")
    n = int.from_bytes(payload[12:16], "little")
    return np.frombuffer(payload, np.uint8, n * h * w, 16).reshape(n, h, w)


def video_frame_features(media: DataFrame) -> DataFrame:
    """Frame-sample + per-frame features for RV01 video payloads:
    m = min(n_samples, n_frames) uniformly-spaced frames, n_samples =
    ``FRAME_SAMPLES`` (idx_k =
    floor(k·n_frames / m) — deterministic, distinct, and spanning the whole
    clip even when the video is shorter than n_samples; ADVICE r3: dividing
    by n_samples instead of m yielded duplicate early frames on short
    clips), each reduced to resize_to² block means / 255 — one output row
    per sampled frame, Arrow-batched."""
    n_samples, resize_to = FRAME_SAMPLES, RESIZE_TO

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, feats = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_rawvid(bytes(payload))
                n = len(frames)
                m = min(n_samples, n)
                for k in range(m):
                    fi = (k * n) // m
                    feat = _block_mean(frames[fi].astype(np.float64), resize_to)
                    ids.append(mid)
                    idxs.append(fi)
                    feats.append((feat / 255.0).ravel().astype(np.float32).tolist())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "feat": feats}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx long, feat array<float>"
    )
