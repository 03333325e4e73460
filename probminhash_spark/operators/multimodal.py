"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schema, batching, partition sizing, UDF signatures)
is real and tested; the actual codec calls are STUBBED behind
``NotImplementedError`` or a deterministic fake because no image/audio
libraries exist in this container — swap ``_decode_*_real`` for PIL/soundfile
implementations in production.

Design notes for 100 TB:
- payloads stay in ``binary`` columns; never collect, never base64 through
  strings; Arrow moves them zero-copy into the Python worker.
- ``mapInPandas`` (iterator form) processes one Arrow batch at a time so a
  partition of large blobs never materializes fully in worker memory; size
  partitions with ``spark.sql.files.maxPartitionBytes`` (~128 MB) and keep
  ``arrow.maxRecordsPerBatch`` low for multi-MB payloads.
- features come back as fixed-length ``array<float>`` for the similarity ops.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "doc_id long, modality string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>"
)

FEATURE_SCHEMA = "doc_id long, modality string, n_bytes long, features array<float>"


def _decode_image_real(payload: bytes, width: int, height: int) -> np.ndarray:
    raise NotImplementedError(
        "compressed image decode requires PIL/libjpeg — not available in this "
        "container; plug a real decoder here (payload -> HxWx3 uint8 array). "
        "Uncompressed BMP decodes natively via _decode_bmp."
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL decoder for uncompressed 24-bit BMP (BITMAPINFOHEADER), pure
    numpy — no codec libraries needed.  Returns (H, W, 3) uint8 in RGB.
    Handles 4-byte row padding and bottom-up (positive height) storage."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit uncompressed BMP supported (bpp={bpp})")
    bottom_up = height > 0
    h = abs(height)
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    raw = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h, offset=pixel_off)
    rows = raw.reshape(h, row_bytes)[:, : width * 3].reshape(h, width, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR -> RGB


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL decoder for PCM WAV via the stdlib ``wave`` module + numpy.
    Returns (samples float32 in [-1, 1] shaped (n, channels), sample_rate)."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, sw, rate, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        raw = w.readframes(nframes)
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported sample width {sw}")
    return x.reshape(-1, nch), rate


def _image_features(img: np.ndarray, n_features: int) -> np.ndarray:
    """Deterministic stats over a decoded HxWx3 image: per-channel mean/std
    + a coarse luminance histogram, truncated/padded to n_features."""
    f = np.zeros(n_features, dtype=np.float32)
    chan = img.reshape(-1, 3).astype(np.float32)
    stats = np.concatenate([chan.mean(axis=0), chan.std(axis=0)])
    lum = chan.mean(axis=1)
    hist, _ = np.histogram(lum, bins=max(n_features - 6, 1), range=(0.0, 255.0))
    vals = np.concatenate([stats, hist / max(lum.size, 1)])
    f[: min(vals.size, n_features)] = vals[:n_features]
    return f


def _audio_features(x: np.ndarray, n_features: int) -> np.ndarray:
    """Deterministic stats over decoded PCM: global mean/std/absmax + framed
    RMS envelope, truncated/padded to n_features."""
    f = np.zeros(n_features, dtype=np.float32)
    mono = x.mean(axis=1)
    head = np.array([mono.mean(), mono.std(), np.abs(mono).max() if mono.size else 0.0])
    nfr = max(n_features - 3, 1)
    pad = (-mono.size) % nfr
    framed = np.pad(mono, (0, pad)).reshape(nfr, -1)
    rms = np.sqrt((framed**2).mean(axis=1))
    vals = np.concatenate([head, rms])
    f[: min(vals.size, n_features)] = vals[:n_features]
    return f


def _chunk_sums(payloads, n_chunks: int, dtype) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-payload byte-range sums over ``n_chunks`` chunks with
    np.array_split sizing (first ``len % n`` chunks get one extra byte),
    vectorized over the whole batch: one concat + one prefix-sum, no
    per-payload Python.  Returns (sums (n, c), sizes (n, c), lens (n,)).

    Single source of truth for the chunking math — shared by the float
    feature fallback and the integer byte-stats operator so the
    oracle-verified path can never drift from the feature path."""
    npay = len(payloads)
    lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=npay)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    prefix = np.zeros(buf.size + 1, dtype=dtype)
    np.cumsum(buf, out=prefix[1:])
    offs = np.zeros(npay + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    i = np.arange(n_chunks)
    sizes = (lens // n_chunks)[:, None] + (i[None, :] < (lens % n_chunks)[:, None])
    bounds = np.concatenate(
        [np.zeros((npay, 1), np.int64), np.cumsum(sizes, axis=1)], axis=1
    )
    starts = offs[:-1, None] + bounds[:, :-1]
    ends = offs[:-1, None] + bounds[:, 1:]
    return prefix[ends] - prefix[starts], sizes, lens


def _fake_decode_batch(payloads, n_features: int) -> np.ndarray:
    """Deterministic codec stand-in: per payload, the MEANS of its
    ``n_features`` byte chunks (see :func:`_chunk_sums`).  Identical
    payloads -> identical features; empty payloads -> zeros."""
    payloads = [p or b"" for p in payloads]
    sums, sizes, _ = _chunk_sums(payloads, n_features, np.float64)
    return np.where(sizes > 0, sums / np.maximum(sizes, 1), 0.0).astype(np.float32)


def extract_features(
    media: DataFrame,
    n_features: int = 64,
    use_real_decoders: bool = False,
) -> DataFrame:
    """media table -> per-item feature vectors via iterator mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p or b"" for p in pdf["payload"]]
            # vectorized fallback for every payload; real decodes (sniffed by
            # magic bytes) overwrite their rows — per-payload calls are
            # inherent to container decoders, and only run for real media
            feats = list(_fake_decode_batch(payloads, n_features))
            for i, p in enumerate(payloads):
                try:
                    if p[:2] == b"BM":
                        feats[i] = _image_features(decode_bmp(p), n_features)
                    elif p[:4] == b"RIFF" and p[8:12] == b"WAVE":
                        feats[i] = _audio_features(decode_wav(p)[0], n_features)
                    elif use_real_decoders and pdf["modality"].iloc[i] == "image":
                        meta = pdf["meta"].iloc[i]  # pragma: no cover
                        img = _decode_image_real(p, meta["width"], meta["height"])
                        feats[i] = _image_features(img, n_features)
                except Exception:  # noqa: BLE001 — malformed media keep the fallback
                    # deliberately broad: stdlib wave raises wave.Error (a
                    # RuntimeError subclass), bare RuntimeError (truncated
                    # chunks), and struct.error depending on HOW the payload
                    # is malformed — a payload that sniffs as media but
                    # doesn't decode must degrade to byte stats, never crash
                    # the job.
                    pass
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) for p in payloads],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


BYTE_STATS_SCHEMA = (
    "doc_id long, n_bytes long, chunk_sums array<bigint>, checksum bigint"
)


def extract_byte_stats(media: DataFrame, n_chunks: int = 8) -> DataFrame:
    """Exact-integer byte statistics over opaque binary payloads via iterator
    ``mapInPandas`` — the same batched binary plumbing as
    :func:`extract_features` (zero-copy Arrow binary columns, batch-bounded
    memory) but with integer outputs, so the whole path is verifiable
    against a SQL oracle bit-for-bit (no float32 rounding semantics).

    Per payload: ``n_chunks`` byte-range sums with np.array_split sizing
    (first ``len % n`` chunks get one extra byte) plus a total checksum.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [p or b"" for p in pdf["payload"]]
            sums, _, lens = _chunk_sums(payloads, n_chunks, np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "chunk_sums": list(sums),
                    "checksum": sums.sum(axis=1),
                }
            )

    return media.mapInPandas(run, schema=BYTE_STATS_SCHEMA)

