"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

Design for 100 TB media processing:
- media rows are (media_id, kind, payload BINARY, meta STRUCT) — payloads
  are opaque to Catalyst; metadata is columnar so filters like
  ``meta.width >= 64`` prune *before* any byte of payload is decoded
  (column pruning means Parquet never even reads the payload column for
  metadata-only queries);
- all decode/transform work runs in ``mapInPandas`` — Arrow ships the
  binary batches, numpy does the math, batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a partition of 4K
  images cannot materialize at once;
- real codecs (JPEG/PNG/WAV/MP4) are NOT in this container: decode for
  those formats is stubbed behind an import-try of PIL/soundfile and
  raises NotImplementedError with a clear message. The deterministic SIMG/
  SAUD/SVID formats below make the Spark-side plumbing — schemas,
  partitioning, UDF signatures, Arrow batch shapes — real and fully
  tested end-to-end.

Synthetic formats (all little-endian):
  SIMG: b'SIMG' | u16 width | u16 height | width*height u8 gray pixels
  SAUD: b'SAUD' | u32 sample_rate | u32 n_samples | n_samples i16 samples
  SVID: b'SVID' | u16 width | u16 height | u16 n_frames | frames of
        width*height u8 pixels
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, format:string, n_frames:int, sample_rate:int>"
)


def _require_real_codec(fmt: str, lib: str = "PIL/soundfile"):
    """Real-format payloads always raise: this build implements only the
    deterministic synthetic formats. (The r1 version RETURNED when PIL was
    importable, which let decode_* fall through and struct-unpack a JPEG
    header as SIMG dimensions — garbage pixels or a reshape crash.)"""
    raise NotImplementedError(
        f"decode for format {fmt!r} is not implemented in this build "
        f"(requires a real codec via {lib}); SIMG/SAUD/SVID payloads are "
        "the deterministic stand-ins"
    )


# Recognizable real-media magic prefixes (r5 review): ONLY these escalate
# to NotImplementedError — a recognizable real format in the corpus is a
# DEPLOYMENT gap (the build lacks the codec) that must fail loudly.
# Everything else with a wrong magic (bit-flipped header, empty payload,
# arbitrary garbage) is corrupt DATA and raises ValueError so the
# operators' on_error='skip' quarantine can drop the row instead of
# killing the stage. The r5.0 version escalated ALL unknown magics, so
# one flipped magic byte killed the stage even under 'skip'.
_REAL_MEDIA_MAGICS = (
    # >= 3-byte magics only (third review): a 2-byte prefix like BMP's
    # b'BM' or MP3's bare frame sync b'\xff\xfb' matches ~2^-16 of
    # uniformly random garbage — an EXPECTED event at 10^10 rows, and
    # each match would escalate corrupt data to a stage-killing
    # NotImplementedError. 3-byte (~2^-24) and 4-byte (~2^-32) magics
    # keep the collision odds negligible; a genuine headerless BMP/MP3
    # payload is quarantined as corrupt instead — the conservative side
    # of the trade (data loss is audited via the anti-join, a killed
    # stage is not).
    b"\xff\xd8\xff",  # JPEG
    b"\x89PNG",       # PNG
    b"GIF8",          # GIF
    b"RIFF",          # WAV / AVI container
    b"fLaC",          # FLAC
    b"OggS",          # Ogg
    b"ID3",           # MP3 with ID3 tag
)


def _reject_magic(payload: bytes, expected: str, lib: str = "PIL/soundfile"):
    """Wrong-magic dispatch: recognizable real format -> NotImplementedError
    (deployment gap, never silently dropped); MP4 (ftyp at offset 4) and
    the listed prefixes are checked; anything else -> ValueError (corrupt
    data, quarantinable)."""
    head = bytes(payload[:12])
    if head[4:8] == b"ftyp":
        # report the BRAND (mp42/isom/...), not the leading box-size
        # bytes — '00000018' in a deployment error helps nobody
        _require_real_codec("ftyp/" + head[8:12].decode("ascii", "replace"), lib=lib)
    if any(head.startswith(m) for m in _REAL_MEDIA_MAGICS):
        _require_real_codec(head[:4].hex(), lib=lib)
    raise ValueError(
        f"unrecognized payload magic {head[:4]!r} (expected {expected}); corrupt row"
    )


# --- pure payload codecs (shared by generator, UDFs, and tests) ------------

def encode_simg(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape
    return b"SIMG" + struct.pack("<HH", w, h) + pixels.astype(np.uint8).tobytes()


def decode_simg(payload: bytes) -> np.ndarray:
    if payload[:4] != b"SIMG":
        _reject_magic(payload, "SIMG")
    if len(payload) < 8:
        raise ValueError(f"truncated SIMG header: {len(payload)} bytes")
    w, h = struct.unpack("<HH", payload[4:8])
    if len(payload) < 8 + w * h:
        # explicit, catchable error instead of numpy's reshape crash —
        # the operators' on_error='skip' quarantine depends on it
        raise ValueError(f"truncated SIMG body: want {w * h} px, have {len(payload) - 8} bytes")
    return np.frombuffer(payload[8 : 8 + w * h], dtype=np.uint8).reshape(h, w)


def encode_saud(sample_rate: int, samples: np.ndarray) -> bytes:
    if not (0 < sample_rate <= 2**31 - 1):
        # mirror decode_saud's plausibility check (third review): the
        # encoder must not produce payloads its own decoder quarantines —
        # a rate-0 placeholder would silently vanish under
        # on_error='skip' instead of failing here, at the write site
        raise ValueError(f"sample_rate must be in [1, 2^31-1], got {sample_rate}")
    return (
        b"SAUD"
        + struct.pack("<II", sample_rate, len(samples))
        + samples.astype("<i2").tobytes()
    )


def decode_saud(payload: bytes):
    if payload[:4] != b"SAUD":
        _reject_magic(payload, "SAUD", lib="soundfile")
    if len(payload) < 12:
        raise ValueError(f"truncated SAUD header: {len(payload)} bytes")
    rate, n = struct.unpack("<II", payload[4:12])
    if not (0 < rate <= 2**31 - 1):
        # AUDIO_FEATURE_SCHEMA carries sample_rate as int32; without this
        # check a corrupt u32 rate (e.g. 0xFFFFFFFF) would pass decode and
        # silently WRAP in the Arrow int64->int32 cast — corrupt data
        # emitted as a plausible feature row (r5 review)
        raise ValueError(f"implausible SAUD sample_rate {rate}")
    if len(payload) < 12 + 2 * n:
        # without this check frombuffer silently yields FEWER samples than
        # the header claims — silent corruption, worse than a crash
        raise ValueError(f"truncated SAUD body: want {n} samples, have {(len(payload) - 12) // 2}")
    return rate, np.frombuffer(payload[12 : 12 + 2 * n], dtype="<i2")


def encode_svid(frames: np.ndarray) -> bytes:
    n, h, w = frames.shape
    return b"SVID" + struct.pack("<HHH", w, h, n) + frames.astype(np.uint8).tobytes()


def decode_svid(payload: bytes) -> np.ndarray:
    if payload[:4] != b"SVID":
        _reject_magic(payload, "SVID")
    if len(payload) < 10:
        raise ValueError(f"truncated SVID header: {len(payload)} bytes")
    w, h, n = struct.unpack("<HHH", payload[4:10])
    if len(payload) < 10 + w * h * n:
        raise ValueError(f"truncated SVID body: want {w * h * n} px, have {len(payload) - 10} bytes")
    return np.frombuffer(payload[10 : 10 + w * h * n], dtype=np.uint8).reshape(n, h, w)


# --- operators --------------------------------------------------------------

def _check_on_error(on_error: str) -> None:
    if on_error != "skip" and on_error != "raise":
        raise ValueError(f"on_error must be 'skip' or 'raise', got {on_error!r}")


def _decode_or_none(decoder, payload, on_error: str):
    """THE quarantine policy, in one place (r5 review: four diverging
    copies let sample_frames drift). Returns the decoded value, or None
    when the row is quarantined under on_error='skip'. Quarantinable:
    NULL payloads (a failed upstream fetch — bytes(None) used to raise
    TypeError and kill the stage even under 'skip') and ValueError from
    the decoders (corrupt/truncated/unrecognized-magic data).
    NotImplementedError (recognizable real-codec magic) ALWAYS
    propagates: missing codecs are a deployment gap, not an input-data
    problem."""
    if payload is None:
        if on_error == "raise":
            raise ValueError("NULL media payload")
        return None
    try:
        return decoder(bytes(payload))
    except ValueError:
        if on_error == "raise":
            raise
        return None


def image_feature_schema(n_bins: int = 4) -> str:
    """Histogram bins are flattened to scalar hist_i columns: every consumer
    (driver canonicalizer, CSV sink, DuckDB mirror) handles scalars; an
    array<long> column is unhashable in pandas-side canonicalization
    (CORRECTNESS_r01 regression)."""
    hist_cols = ", ".join(f"hist_{i} long" for i in range(n_bins))
    return (
        "media_id long, width int, height int, mean_e4 long, std_e4 long, " + hist_cols
    )


def image_features(df: DataFrame, n_bins: int = 4, on_error: str = "skip") -> DataFrame:
    """Decode + feature-extract images: dimensions, mean/std intensity
    (x1e4 fixed-point), n_bins histogram (scalar hist_0..hist_{n-1}).
    mapInPandas; one Arrow crossing.

    Garbage tolerance (r5): at the 100 TB design point one corrupt row
    must not kill a stage. ``on_error='skip'`` (default) quarantines
    malformed payloads (truncated/invalid SIMG -> ValueError from the
    decoder) and degenerate 0-pixel images (whose mean is NaN — the r4
    code crashed on int(floor(nan))): they emit NO feature row, the same
    convention as wordless documents in the text operators. Callers audit
    the quarantine by anti-joining output media_ids against the input.
    ``on_error='raise'`` keeps the fail-fast debug behavior. Real-codec
    payloads (JPEG/WAV/... magic) ALWAYS raise NotImplementedError —
    silently dropping data the build cannot read would hide a deployment
    error, not an input-data problem."""
    _check_on_error(on_error)
    cols = ["media_id", "width", "height", "mean_e4", "std_e4"] + [
        f"hist_{i}" for i in range(n_bins)
    ]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = _decode_or_none(decode_simg, payload, on_error)
                if px is None:
                    continue
                if px.size == 0:
                    if on_error == "raise":
                        raise ValueError(f"degenerate 0-pixel image media_id={mid}")
                    continue
                hist = np.histogram(px, bins=n_bins, range=(0, 256))[0]
                rows.append(
                    (
                        int(mid),
                        px.shape[1],
                        px.shape[0],
                        int(np.floor(px.mean() * 10000)),
                        int(np.floor(px.std() * 10000)),
                        *[int(x) for x in hist],
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        gen, image_feature_schema(n_bins)
    )


def resize_images(df: DataFrame, factor: int = 2, on_error: str = "skip") -> DataFrame:
    """Integer-factor box downscale; returns new SIMG payloads + meta.
    (Deterministic: mean of factor x factor blocks, floor to u8.)

    Same quarantine policy as image_features (r5): malformed payloads and
    images smaller than the factor (whose crop is 0-pixel — carrying an
    empty payload downstream just defers the crash) emit no row under
    on_error='skip'; real-codec magic always raises."""
    _check_on_error(on_error)
    out_schema = MEDIA_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = _decode_or_none(decode_simg, payload, on_error)
                if px is None:
                    continue
                h, w = px.shape
                if h < factor or w < factor:
                    if on_error == "raise":
                        raise ValueError(
                            f"image media_id={mid} ({w}x{h}) smaller than factor {factor}"
                        )
                    continue
                h2, w2 = (h // factor) * factor, (w // factor) * factor
                small = (
                    px[:h2, :w2]
                    .reshape(h2 // factor, factor, w2 // factor, factor)
                    .mean(axis=(1, 3))
                )
                small = np.floor(small).astype(np.uint8)
                rows.append(
                    (
                        int(mid),
                        "image",
                        encode_simg(small),
                        (small.shape[1], small.shape[0], "SIMG", None, None),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return df.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        gen, out_schema
    )


AUDIO_FEATURE_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, rms_e4 long, zero_crossings long"
)


def audio_features(df: DataFrame, on_error: str = "skip") -> DataFrame:
    """RMS/zero-crossing features. Zero-SAMPLE audio is well-defined (rms
    0, zc 0 — emits a row); malformed payloads follow the image operators'
    quarantine policy (r5): skip by default, real-codec magic raises."""
    _check_on_error(on_error)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                decoded = _decode_or_none(decode_saud, payload, on_error)
                if decoded is None:
                    continue
                rate, samples = decoded
                x = samples.astype(np.float64)
                rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
                zc = int(np.sum(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0
                rows.append((int(mid), int(rate), len(samples), int(np.floor(rms * 10000)), zc))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples", "rms_e4", "zero_crossings"],
            )

    return df.filter(F.col("kind") == "audio").select("media_id", "payload").mapInPandas(
        gen, AUDIO_FEATURE_SCHEMA
    )


FRAME_SCHEMA = "media_id long, frame_idx int, kind string, payload binary"


def sample_frames(df: DataFrame, every_k: int = 2, on_error: str = "skip") -> DataFrame:
    """Video -> one row per sampled frame (frame re-encoded as SIMG), the
    canonical flatMap shape for frame-level training data. Malformed
    payloads follow the quarantine policy (r5): skip by default,
    real-codec magic raises."""
    _check_on_error(on_error)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = _decode_or_none(decode_svid, payload, on_error)
                if frames is None:
                    continue
                if frames.shape[0] > 0 and (frames.shape[1] == 0 or frames.shape[2] == 0):
                    # degenerate frames (w or h = 0): quarantining the
                    # VIDEO here beats emitting n 0-pixel SIMG rows that
                    # downstream image operators would silently re-drop —
                    # deferred, double-silent data loss (r5 review)
                    if on_error == "raise":
                        raise ValueError(f"degenerate 0-pixel frames media_id={mid}")
                    continue
                for idx in range(0, frames.shape[0], every_k):
                    rows.append((int(mid), idx, "image", encode_simg(frames[idx])))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "kind", "payload"])

    return df.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        gen, FRAME_SCHEMA
    )
