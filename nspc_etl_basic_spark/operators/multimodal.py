"""Multimodal (image/audio/video) column operators for training-data
pipelines (build-brief M7 extension; no reference counterpart).

Representation: media are opaque ``binary`` payload columns plus a typed
metadata struct — the 100 TB-friendly layout (payload bytes never enter
a shuffle key; metadata is columnar and prunable):

    media_id   long
    payload    binary
    meta       struct<format:string, width:int, height:int,
                      n_frames:int, sample_rate:int>

All kernels run as Arrow-batched ``mapInPandas`` functions — the correct
Spark plumbing for bytes-in/bytes-out transforms (vectorized transfer, no
per-row pickling, bounded batch memory via
``spark.sql.execution.arrow.maxRecordsPerBatch``).

CODEC TIERS: each kernel dispatches per payload on the magic bytes.
PNG and WAV payloads get a REAL decode via the vendored pure-stdlib
codecs (``operators/codecs.py`` — zlib inflate + unfilter for PNG, the
stdlib ``wave`` module for PCM16); when PIL is installed it is preferred
for images (wider format coverage). Payloads in formats neither tier
understands (JPEG/MP3/MP4...) fall back to a deterministic fake over the
raw bytes so the distributed plumbing — Arrow batching, schemas, batch
iteration, partitioning — always runs end-to-end; pass
``require_real_decode=True`` to raise on any undecodable payload instead
of silently faking.

Precision contract (Arrow boundary): kernels carry opaque bytes and
integer pixel/sample values — no timestamps, no unit conversions;
integer accumulations (pixel sums, sample energy) run in int64 exactly,
and derived means/ratios cross as float64 rounded (6 dp) JVM-side per
the engine-wide F.round contract.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_STRUCT = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", META_STRUCT),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def _try_import_pil():
    try:
        from PIL import Image  # noqa: F401

        return Image
    except ImportError:
        return None


def _floor6(x: float) -> float:
    """Truncate to 6 decimals: floor has identical semantics in Python,
    numpy, Spark and DuckDB (round() diverges on halves), keeping every
    kernel output oracle-checkable bit-for-bit."""
    return math.floor(x * 1e6) / 1e6


def _decode_image(payload: bytes):
    """Real image decode: PIL when importable (any format it knows),
    else the vendored pure-stdlib PNG codec. Returns an (h, w, c) uint8
    array or None when no real tier can decode this payload."""
    from nspc_etl_basic_spark.operators import codecs

    pil = _try_import_pil()
    if pil is not None:
        import io

        try:
            img = pil.open(io.BytesIO(payload))
            arr = np.asarray(img.convert("RGB") if img.mode == "P" else img)
            return arr[:, :, None] if arr.ndim == 2 else arr
        except Exception:  # noqa: BLE001 — undecodable: fall through
            pass
    kind = codecs.sniff_media(payload)
    try:
        if kind == "png":
            return codecs.decode_png(payload)
        if kind == "jpeg":
            arr = codecs.decode_jpeg(payload)
            return arr[:, :, None] if arr.ndim == 2 else arr
    except Exception:  # noqa: BLE001 — undecodable at this tier
        # sniffed but out of codec scope (progressive JPEG, exotic PNG)
        # OR corrupt/truncated payload — the codec surfaces those as
        # IndexError/EOFError/KeyError/struct.error, not just the
        # documented ValueError, and a real corpus WILL contain them;
        # any decode failure here means "caller's fallback applies",
        # never a crashed Spark task
        return None
    return None


# ---------------------------------------------------------------------------
# STUB KERNELS — deterministic fakes over payload bytes (see module note)
# ---------------------------------------------------------------------------

def _fake_mean_intensity(payload: bytes) -> float:
    """Deterministic stand-in for mean pixel value: mean of payload bytes."""
    if not payload:
        return 0.0
    return sum(payload) / len(payload) / 255.0


def _fake_rms(payload: bytes) -> float:
    """RMS of bytes scaled to [0, 1]. Accumulates the EXACT integer
    sum(b^2) first — integer addition is order-independent, so the single
    float division + sqrt is bit-identical across engines (a float
    accumulation would drift with summation order)."""
    if not payload:
        return 0.0
    acc = sum(b * b for b in payload)
    return (acc / (len(payload) * 65025)) ** 0.5


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

def image_features(df: DataFrame, require_real_decode: bool = False) -> DataFrame:
    """Per-image feature extraction via ``mapInPandas``.

    Per-payload dispatch: decodable images (PNG via the vendored codec;
    anything PIL knows when installed) report REAL width/height/mean
    pixel intensity from the decoded array; undecodable payloads fall
    back to the deterministic byte-stub (meta dims, byte-mean) so the
    plumbing always completes. ``require_real_decode=True`` raises
    ``ValueError`` on the first undecodable payload instead.
    """

    def one(media_id, payload: bytes, m):
        arr = _decode_image(payload)
        if arr is not None:
            mean = _floor6(
                # exact integer pixel sum first (order-independent), one
                # float division after
                int(arr.astype(np.int64).sum()) / arr.size / 255.0
            )
            return (media_id, arr.shape[1], arr.shape[0], mean,
                    hashlib.md5(payload).hexdigest())
        if require_real_decode:
            raise ValueError(
                f"media_id={media_id}: payload is not a decodable image "
                "(PNG supported natively; install PIL for more formats)"
            )
        return (
            media_id, m["width"], m["height"],
            _floor6(_fake_mean_intensity(payload)),
            hashlib.md5(payload).hexdigest(),
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                one(i, bytes(p), m)
                for i, p, m in zip(pdf["media_id"], pdf["payload"], pdf["meta"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "mean_intensity", "payload_md5",
                ],
            )

    return df.mapInPandas(kernel, IMAGE_FEATURE_SCHEMA)


def resize_images(df: DataFrame, max_dim: int = 256) -> DataFrame:
    """Resize via ``mapInPandas``. PNG payloads are REALLY resized —
    decode (vendored codec), nearest-neighbor downsample to fit
    ``max_dim`` with aspect preserved, re-encode — and the payload is
    replaced with the new bytes. Undecodable payloads keep their bytes
    and only the metadata is clamped (stub tier), so the flow completes
    on any corpus. Images already within ``max_dim`` pass through
    untouched on both tiers."""
    from nspc_etl_basic_spark.operators import codecs

    def clamp_dims(w: int, h: int) -> tuple[int, int]:
        scale = max(w, h) / max_dim if max(w, h) > max_dim else 1.0
        return int(w / scale) if w else w, int(h / scale) if h else h

    def one(payload: bytes, m):
        arr = None
        if codecs.sniff_media(payload) == "png":
            try:
                arr = codecs.decode_png(payload)
            except ValueError:
                arr = None
        if arr is not None:
            h, w = arr.shape[:2]
            nw, nh = clamp_dims(w, h)
            if (nw, nh) != (w, h):
                payload = codecs.encode_png(codecs.resize_nearest(arr, nw, nh))
        else:
            nw, nh = clamp_dims(m["width"] or 0, m["height"] or 0)
        return payload, {
            "format": m["format"],
            "width": nw,
            "height": nh,
            "n_frames": m["n_frames"],
            "sample_rate": m["sample_rate"],
        }

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pairs = [one(bytes(p), m) for p, m in zip(pdf["payload"], pdf["meta"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "payload": [p for p, _ in pairs],
                    "meta": [m for _, m in pairs],
                }
            )

    return df.mapInPandas(kernel, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling: one output row per sampled frame. The stub
    'decoder' slices the payload into ``n_frames`` equal chunks; a real
    kernel yields decoded frame images. Emission is streaming per batch —
    a 2-hour video never materializes all frames at once."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # vectorized explode: numpy repeat/arange build the (row, frame)
            # index plan for the whole Arrow batch; only the final payload
            # slicing touches Python objects (frame explosion is the hottest
            # multimodal path — no per-row pandas iteration)
            n_frames = (
                pdf["meta"].map(lambda m: m["n_frames"] or 0).to_numpy(dtype=np.int64)
            )
            raws = [
                bytes(p) if p is not None else b"" for p in pdf["payload"]
            ]
            lens = np.fromiter((len(r) for r in raws), dtype=np.int64, count=len(raws))
            counts = np.where(n_frames > 0, -(-n_frames // every_n), 0)
            row_idx = np.repeat(np.arange(len(pdf)), counts)
            # frame index within each row: global arange minus each row's
            # starting offset, scaled by the sampling stride
            offsets = np.repeat(np.cumsum(counts) - counts, counts)
            frame_idx = (np.arange(counts.sum()) - offsets) * every_n
            steps = np.maximum(lens[row_idx] // np.maximum(n_frames[row_idx], 1), 1)
            starts = frame_idx * steps
            stops = starts + steps
            media_ids = pdf["media_id"].to_numpy()[row_idx]
            payloads = [
                raws[r][a:b] for r, a, b in zip(row_idx, starts, stops)
            ]
            yield pd.DataFrame(
                {
                    "media_id": media_ids,
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_payload": payloads,
                }
            )

    return df.mapInPandas(kernel, FRAME_SCHEMA)


def audio_features(df: DataFrame, require_real_decode: bool = False) -> DataFrame:
    """Audio feature extraction via ``mapInPandas``.

    Per-payload dispatch: WAV payloads get a REAL PCM16 decode (vendored
    stdlib codec) — sample rate and duration from the header, RMS over
    the int16 samples normalized to [0, 1]; other payloads fall back to
    the deterministic byte-stub (meta sample rate, PCM16-length duration,
    byte RMS). ``require_real_decode=True`` raises on undecodables."""
    from nspc_etl_basic_spark.operators import codecs

    def real_one(media_id, payload: bytes):
        rate, samples = codecs.decode_wav(payload)
        n = samples.shape[0]
        # exact integer sum(s^2) first; one division + sqrt after
        acc = int((samples.astype(np.int64) ** 2).sum())
        rms = (acc / (samples.size * 32768 * 32768)) ** 0.5 if n else 0.0
        return (media_id, rate, _floor6(n / rate if rate else 0.0), _floor6(rms))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            real_rows, stub_mask = {}, []
            for pos, (i, p) in enumerate(zip(pdf["media_id"], pdf["payload"])):
                raw = bytes(p)
                if codecs.sniff_media(raw) == "wav":
                    try:
                        real_rows[pos] = real_one(i, raw)
                        stub_mask.append(False)
                        continue
                    except ValueError:
                        if require_real_decode:
                            raise
                elif require_real_decode:
                    raise ValueError(
                        f"media_id={i}: payload is not a decodable PCM16 WAV"
                    )
                stub_mask.append(True)
            if real_rows and not any(stub_mask):
                yield pd.DataFrame(
                    [real_rows[p] for p in sorted(real_rows)],
                    columns=["media_id", "sample_rate", "duration_s", "rms"],
                )
                continue
            stub = _audio_stub_batch(pdf)
            if real_rows:
                for pos, row in real_rows.items():
                    stub.iloc[pos] = row
            yield stub

    return df.mapInPandas(kernel, AUDIO_FEATURE_SCHEMA)


def _audio_stub_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    # vectorized per batch (no pandas row iteration): duration =
    # payload_len/2 samples (PCM16) over the sample rate
    srs = (
        pdf["meta"]
        .map(lambda m: m["sample_rate"] or 0)
        .to_numpy(dtype=np.int64)
    )
    lens = np.fromiter(
        (len(bytes(p)) for p in pdf["payload"]),
        dtype=np.int64,
        count=len(pdf),
    )
    raw = np.where(srs > 0, (lens / 2) / np.maximum(srs, 1), 0.0)
    # floor-truncate to 6 decimals: floor has identical semantics
    # in numpy, Python and DuckDB (round() diverges on halves),
    # keeping the kernel oracle-checkable bit-for-bit
    duration = np.floor(raw * 1e6) / 1e6
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].to_numpy(),
            "sample_rate": pdf["meta"].map(lambda m: m["sample_rate"]).to_numpy(),
            "duration_s": duration,
            "rms": pdf["payload"]
            .map(lambda p: math.floor(_fake_rms(bytes(p)) * 1e6) / 1e6)
            .to_numpy(),
        }
    )


def synthesize_media(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic synthetic media table for tests/benches: payload =
    md5-keystream bytes, metadata consistent with ``kind``."""
    def gen(i: int):
        seed = hashlib.md5(f"{kind}_{i}".encode()).digest()
        payload = (seed * 8)[: 64 + (i % 17)]
        if kind == "image":
            meta = (kind, 32 + i % 64, 16 + i % 48, None, None)
        elif kind == "video":
            meta = (kind, 64, 48, 4 + i % 7, None)
        else:
            meta = (kind, None, None, None, 8000)
        return (i, bytearray(payload), meta)

    return spark.createDataFrame([gen(i) for i in range(n)], MEDIA_SCHEMA)
