"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with mapInPandas plumbing for decode/feature-extract stages.

Image decode is REAL for PNG (``osm_spark.text.png``, zlib+struct),
baseline JPEG (``osm_spark.text.jpeg``, Huffman+IDCT) and GIF
(``osm_spark.text.gif``, LZW — incl. animations) payloads, all
pure-python: the sniff order is PNG signature, SOI, then GIF8.
``decode_image`` turns actual bytes into pixel arrays and
``extract_features`` computes features from decoded pixels (block
means — q61 pins PNG, q163 JPEG, q169 GIF against closed-form SQL
oracles). Payloads no codec here can decode (WebP / progressive
JPEG / ...) fall back to ``decode_image_stub``: a deterministic
md5-seeded feature vector, so the distributed plumbing stays testable
on arbitrary bytes and raises with a clear message when
``strict=True`` (production wiring point for PIL/ffmpeg).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, duration_ms:int, codec:string>"
)

FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes int, "
    "width int, height int, decoded boolean, features array<float>"
)

AUDIO_FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes int, "
    "rate int, channels int, n_samples int, decoded boolean, "
    "features array<float>"
)


def attach_media(
    df: DataFrame, payload_col: str, kind: str, keep: list[str] | None = None
) -> DataFrame:
    """Normalize an arbitrary binary column into the media schema.
    ``keep``: passthrough columns (e.g. the source url) carried along
    for downstream joins / oracle keys."""
    return df.select(
        *[F.col(c) for c in (keep or [])],
        F.xxhash64(payload_col).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col(payload_col).alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ).alias("meta"),
    )


def decode_image_stub(payload: bytes, dim: int = 16, strict: bool = False) -> np.ndarray:
    """Deterministic fake 'decoder': md5-seeded feature vector.

    Production: replace with PIL decode + resize + channel stats. The
    signature (bytes -> float32[dim]) is the wiring contract."""
    if strict:
        raise NotImplementedError(
            "no image codec in this environment; plug PIL/opencv here"
        )
    h = hashlib.md5(payload or b"").digest()
    seed = np.frombuffer(h, dtype=np.uint8).astype(np.float32)
    reps = int(np.ceil(dim / len(seed)))
    return (np.tile(seed, reps)[:dim] / 255.0).astype(np.float32)


def decode_image(payload: bytes, dim: int = 16) -> tuple[np.ndarray, dict | None]:
    """Real decode when the payload is a PNG, a baseline JPEG or a GIF
    (all pure-python codecs; a GIF contributes its first frame), md5
    stub otherwise. Returns (float32[dim] features, meta-or-None).

    Features are ``dim`` equal-width block means over the row-major
    pixel stream, each scaled to [0, 1]: sum(block)/len(block)/255 —
    the exact arithmetic a SQL oracle reproduces from the synthetic
    pixel formula (PNG: q61; JPEG: q163 via the DC closed form). RGB
    pixels are averaged to grey first (integer-exact: sum//3 is NOT
    used — float mean keeps parity with the oracle's SUM/3.0). The
    stub fallback covers only formats with no pure-python decoder
    here (WebP/progressive JPEG/...) and payloads a codec rejects."""
    from osm_spark.text.jpeg import SOI, decode_jpeg
    from osm_spark.text.png import PNG_SIGNATURE, decode_png

    if payload and bytes(payload[:8]) == PNG_SIGNATURE:
        try:
            img, meta = decode_png(bytes(payload))
        except ValueError:
            return decode_image_stub(payload, dim), None
        return pixel_features(img, dim), meta
    if payload and bytes(payload[:2]) == SOI:
        try:
            img, meta = decode_jpeg(bytes(payload))
        except ValueError:
            return decode_image_stub(payload, dim), None
        return pixel_features(img, dim), meta
    if payload and bytes(payload[:4]) == b"GIF8":
        from osm_spark.text.gif import decode_gif

        try:
            frames, meta = decode_gif(bytes(payload))
        except ValueError:
            return decode_image_stub(payload, dim), None
        # image modality: features from the FIRST frame (animations
        # keep their frame count in meta for the video path)
        return pixel_features(frames[0], dim), meta
    return decode_image_stub(payload, dim), None


def pixel_features(img: np.ndarray, dim: int) -> np.ndarray:
    """dim equal-width block means over the row-major grey pixel
    stream, each in [0, 1] (the q52/q61/q98 oracle arithmetic —
    shared by the image and APNG-frame decode paths)."""
    px = img.astype(np.float64)
    if px.ndim == 3:
        px = px.mean(axis=2)
    flat = px.reshape(-1)
    n = flat.shape[0]
    step = max(1, n // dim)
    feats = np.zeros(dim, dtype=np.float64)
    for j in range(dim):
        lo = j * step
        hi = (j + 1) * step if j < dim - 1 else n
        block = flat[lo:hi]
        if block.size:
            feats[j] = block.sum() / float(block.size) / 255.0
    return feats.astype(np.float32)


def extract_features(
    media: DataFrame, dim: int = 16, keep: list[str] | None = None
) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches of binary
    payloads — the real distributed shape of a decode stage (batch
    size bounded by arrow maxRecordsPerBatch, payloads never collected
    to the driver). PNG, baseline JPEG and GIF payloads are REALLY
    decoded (width/height from the header, features from pixels,
    decoded=true); anything else degrades to the md5 stub with
    decoded=false.

    ``keep``: passthrough columns (e.g. the source url) carried through
    the decode stage — cheaper and collision-proof vs re-joining on
    media_id (identical payloads share a media_id by construction)."""
    keep = list(keep or [])
    schema = FEATURES_SCHEMA + "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in media.schema.fields if f.name in keep
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, widths, heights, decoded = [], [], [], []
            for p in pdf["payload"]:
                f, meta = decode_image(p, dim)
                feats.append(f.tolist())
                widths.append(meta["width"] if meta else None)
                heights.append(meta["height"] if meta else None)
                decoded.append(meta is not None)
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(p or b"") for p in pdf["payload"]],
                "width": pd.array(widths, dtype="Int32"),
                "height": pd.array(heights, dtype="Int32"),
                "decoded": decoded,
                "features": feats,
            }
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema)


def decode_audio(payload: bytes, dim: int = 16) -> tuple[np.ndarray, dict | None]:
    """Real decode when the payload is RIFF/WAVE PCM-16 (pure-python
    codec, osm_spark/text/wav.py), md5 stub otherwise. Returns
    (float32[dim] features, meta-or-None).

    Features are ``dim`` equal-width block means over the flattened
    interleaved sample stream, scaled to [-1, 1]: exact-integer
    sum(block) → /len(block) → /32768 in double, then through float32
    — the op order the q90 SQL oracle reproduces from the synthetic
    sample formula (mirrors decode_image's PNG block means)."""
    from osm_spark.text.wav import decode_wav

    if payload and bytes(payload[:4]) == b"RIFF":
        try:
            frames, meta = decode_wav(bytes(payload))
        except ValueError:
            return decode_image_stub(payload, dim), None
        flat = frames.astype(np.int64).reshape(-1)
        n = flat.shape[0]
        step = max(1, n // dim)
        feats = np.zeros(dim, dtype=np.float64)
        for j in range(dim):
            lo = j * step
            hi = (j + 1) * step if j < dim - 1 else n
            block = flat[lo:hi]
            if block.size:
                feats[j] = (
                    float(block.sum()) / float(block.size) / 32768.0
                )
        return feats.astype(np.float32), meta
    return decode_image_stub(payload, dim), None


def extract_audio_features(
    media: DataFrame, dim: int = 16, keep: list[str] | None = None
) -> DataFrame:
    """Audio sibling of :func:`extract_features` — same mapInPandas
    Arrow-batch shape, WAV payloads REALLY decoded (rate/channels/
    n_samples from the fmt chunk, features from PCM samples,
    decoded=true); anything else degrades to the md5 stub."""
    keep = list(keep or [])
    schema = AUDIO_FEATURES_SCHEMA + "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in media.schema.fields
        if f.name in keep
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, rates, chans, nsamp, decoded = [], [], [], [], []
            for p in pdf["payload"]:
                f, meta = decode_audio(p, dim)
                feats.append(f.tolist())
                rates.append(meta["rate"] if meta else None)
                chans.append(meta["channels"] if meta else None)
                nsamp.append(meta["n_samples"] if meta else None)
                decoded.append(meta is not None)
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(p or b"") for p in pdf["payload"]],
                "rate": pd.array(rates, dtype="Int32"),
                "channels": pd.array(chans, dtype="Int32"),
                "n_samples": pd.array(nsamp, dtype="Int32"),
                "decoded": decoded,
                "features": feats,
            }
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# Video frame sampling (1 row in -> N frame rows out)
# ---------------------------------------------------------------------------

FRAMES_SCHEMA = (
    "media_id long, kind string, frame_idx int, ts_ms int, "
    "features array<float>"
)


def decode_frame_stub(
    payload: bytes, frame_idx: int, dim: int = 16, strict: bool = False
) -> np.ndarray:
    """Deterministic fake frame decoder: md5(payload ':' idx)-seeded
    feature vector. Production: replace with ffmpeg seek+decode at the
    frame timestamp; the signature (bytes, frame_idx) -> float32[dim]
    is the wiring contract."""
    if strict:
        raise NotImplementedError(
            "no video codec in this environment; plug ffmpeg here"
        )
    h = hashlib.md5((payload or b"") + b":" + str(frame_idx).encode()).digest()
    seed = np.frombuffer(h, dtype=np.uint8).astype(np.float32)
    reps = int(np.ceil(dim / len(seed)))
    return (np.tile(seed, reps)[:dim] / 255.0).astype(np.float32)


def sample_frames(
    media: DataFrame,
    interval_ms: int = 100,
    max_frames: int = 8,
    dim: int = 16,
    keep: list[str] | None = None,
) -> DataFrame:
    """Frame-sampling plumbing: one media row fans out to
    min(max_frames, n_frames) frame rows — the Spark shape of a video
    pre-processing stage (fan-out INSIDE the Arrow batch, no explode /
    shuffle; output batches stay bounded because max_frames caps the
    multiplier).

    Frame decode is REAL for APNG payloads (text/apng.py — the
    independent-frames subset, so sampling frame k decompresses only
    frame k, the keyframe-seek property): n_frames and ts come from
    the animation's own acTL/fcTL metadata and features from decoded
    pixels (same block-mean arithmetic as the image path). Other
    payloads keep the historical stub fan-out —
    min(max_frames, duration//interval + 1) frames with md5 features,
    duration from meta.duration_ms or the byte length — so arbitrary
    binaries stay testable and q58's oracle formula holds.

    ``keep``: passthrough columns carried through the fan-out
    (extract_features' pattern — collision-proof vs re-joining on
    media_id when distinct sources share identical payloads)."""
    keep = list(keep or [])
    schema = FRAMES_SCHEMA + "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in media.schema.fields if f.name in keep
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osm_spark.text.apng import apng_info, decode_apng_frame
        from osm_spark.text.png import PNG_SIGNATURE

        for pdf in it:
            ids, kinds, idxs, tss, feats = [], [], [], [], []
            kept: dict[str, list] = {c: [] for c in keep}
            durations = [
                m["duration_ms"] if m is not None and m["duration_ms"] is not None
                else len(p or b"")
                for m, p in zip(pdf["meta"], pdf["payload"])
            ]

            def emit(row_idx, mid, kind, i, ts, f):
                ids.append(mid)
                kinds.append(kind)
                idxs.append(i)
                tss.append(ts)
                feats.append(f)
                for c in keep:
                    kept[c].append(pdf[c].iloc[row_idx])

            for ri, (mid, kind, payload, dur) in enumerate(
                zip(pdf["media_id"], pdf["kind"], pdf["payload"], durations)
            ):
                info = None
                if payload and bytes(payload[:8]) == PNG_SIGNATURE:
                    try:
                        info = apng_info(bytes(payload))
                    except ValueError:
                        info = None
                if info is not None:
                    n = min(max_frames, info["n_frames"])
                    delay = info["delay_ms"] or interval_ms
                    for i in range(max(n, 1)):
                        img = decode_apng_frame(bytes(payload), i)
                        emit(ri, mid, kind, i, i * delay,
                             pixel_features(img, dim).tolist())
                    continue
                n = min(max_frames, int(dur) // interval_ms + 1)
                for i in range(max(n, 1)):
                    emit(ri, mid, kind, i, i * interval_ms,
                         decode_frame_stub(payload, i, dim).tolist())
            out = {
                "media_id": ids,
                "kind": kinds,
                "frame_idx": idxs,
                "ts_ms": tss,
                "features": feats,
            }
            out.update(kept)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema)
