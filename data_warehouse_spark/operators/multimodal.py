"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch transfer,
``mapInPandas`` signatures, partition sizing. The codec layer is pluggable:
``decode=\"fake\"`` (default) parses deterministic pseudo-headers from the
payload bytes so pipelines are fully exercisable and oracle-checkable in
any environment; ``decode=\"real\"`` try-imports the actual codec library
on the executor (Pillow for images, soundfile for audio, PyAV for video),
FALLS BACK to the vendored pure-Python PNG/WAV codecs
(``functions/purecodec.py`` — stdlib zlib/wave) when the library is absent
but the payload is a PNG/WAV, and raises a clear ImportError naming the
missing dependency only for formats the vendored codecs cannot read —
every path shares the identical Arrow/mapInPandas plumbing.

Scale notes: binary payloads ride in their own column so column pruning
keeps metadata-only queries payload-free (parquet never reads the blob
pages); feature extraction is a map-only stage — size
``spark.sql.files.maxPartitionBytes`` so a batch of payloads fits executor
memory, and let Arrow chunk the pandas batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

import hashlib
import importlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _optional(module: str):
    """Guarded import of an optional codec library (resolved on the
    EXECUTOR, where the Pandas-UDF batches run). Returns None when absent."""
    try:
        return importlib.import_module(module)
    except ImportError:
        return None


def _require(module: str, purpose: str):
    mod = _optional(module)
    if mod is None:
        raise ImportError(
            f"decode='real' {purpose} requires `{module}`, which is not "
            "installed in this environment; decode='fake' runs the "
            "deterministic header codec through the identical Spark/Arrow "
            "plumbing"
        )
    return mod


_PNG_ONLY_MSG = (
    "decode='real' image decode for non-PNG payloads requires "
    "`PIL.Image`, which is not installed; the vendored pure-Python "
    "codec (functions/purecodec.py) handles PNG only"
)
_WAV_ONLY_MSG = (
    "decode='real' audio decode for non-WAV payloads requires "
    "`soundfile`, which is not installed; the vendored pure-Python "
    "codec (functions/purecodec.py) handles RIFF/WAVE only"
)


def _real_image_decoder():
    """Resolve the image codec ONCE (per executor batch function) and
    return a ``raw → (width, height, channels, flat uint8 pixels)``
    closure: Pillow when installed (palette images converted to RGB — the
    same expansion the vendored decoder applies, so results are
    environment-independent), else the pure-Python PNG decoder."""
    pil_image = _optional("PIL.Image")
    if pil_image is not None:
        import io

        def decode(raw: bytes):
            img = pil_image.open(io.BytesIO(raw))
            if img.mode == "P":
                img = img.convert("RGB")
            w, h = img.size
            return w, h, len(img.getbands()), np.asarray(
                img, dtype=np.uint8
            ).ravel()

        return decode
    from ..functions import purecodec

    def decode(raw: bytes):
        if purecodec.is_png(raw):
            return purecodec.png_decode(raw)
        raise ImportError(_PNG_ONLY_MSG)

    return decode


def _real_image_header_reader():
    """Header-only twin of :func:`_real_image_decoder` for metadata paths:
    ``raw → (width, height, channels)`` without materializing pixels
    (Pillow's open is lazy; the pure path parses IHDR only). Palette
    images report 3 channels — what the full decode yields post-expansion."""
    pil_image = _optional("PIL.Image")
    if pil_image is not None:
        import io

        def header(raw: bytes):
            img = pil_image.open(io.BytesIO(raw))
            w, h = img.size
            ch = 3 if img.mode == "P" else len(img.getbands())
            return w, h, ch

        return header
    from ..functions import purecodec

    def header(raw: bytes):
        if purecodec.is_png(raw):
            return purecodec.png_header(raw)
        raise ImportError(_PNG_ONLY_MSG)

    return header


def _real_audio_decoder():
    """Resolve the audio codec ONCE and return a ``raw → (sample_rate,
    n_samples)`` closure: soundfile when installed, stdlib-wave for WAV."""
    sf = _optional("soundfile")
    if sf is not None:
        import io

        def decode(raw: bytes):
            data, rate = sf.read(io.BytesIO(raw))
            return int(rate), int(data.shape[0])

        return decode
    from ..functions import purecodec

    def decode(raw: bytes):
        if purecodec.is_wav(raw):
            return purecodec.wav_decode(raw)
        raise ImportError(_WAV_ONLY_MSG)

    return decode

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),  # opaque encoded bytes
        T.StructField("mime", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("frame_payload", T.BinaryType(), False),
    ]
)

def _fake_image_header(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) parsed from the payload header, the way a
    real codec reads an image header (PNG IHDR / JPEG SOF): dimensions from
    the leading bytes, channel count from the next. Because it reads
    actual payload bytes, the Spark→Arrow→pandas binary plumbing is
    oracle-checkable (the DuckDB twin recomputes the same header fields)."""
    p = payload + bytes(8)  # pad pathological tiny payloads
    width = 1 + int.from_bytes(p[0:2], "big") % 2048
    height = 1 + int.from_bytes(p[2:4], "big") % 2048
    channels = 1 + p[4] % 4
    return width, height, channels


def _fake_audio_header(raw: bytes) -> tuple[int, int]:
    """(sample_rate, n_samples) parsed WAV/FLAC-style from the header bytes —
    the single source of truth for the fake audio codec (used by both
    :func:`extract_audio_features` and :func:`extract_media_metadata`)."""
    p = raw + bytes(8)
    rate = 8000 * (1 + p[4] % 6)
    n_samples = max(len(raw) - 4, 0) * 4
    return rate, n_samples


def _fake_frame_count(raw: bytes, max_frames: int) -> int:
    """How many frames the fake video codec yields for a payload — the
    single source of truth shared by :func:`sample_frames` (which
    materializes that many frame payloads) and the fused metadata sweep
    (which only counts)."""
    return min(max_frames, max(1, len(raw) // 32))


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Deterministic media fixture derived from the ``documents`` table: an
    opaque binary payload (bytes of a repeated md5 digest) plus typed
    metadata. Gives the multimodal operators a corpus at any SF without
    shipping binary testdata — and every payload byte is a pure function of
    ``doc_id``, so SQL oracles can recompute header-derived features from
    the same md5 hex string without ever touching the binary."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    mime = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    # payload length varies 32..128 bytes: md5 hex repeated 2 + doc_id % 7 times
    payload = F.unhex(
        F.expr("repeat(md5(cast(doc_id as string)), cast(2 + doc_id % 7 as int))")
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        mime.alias("mime"),
        F.col("source").alias("source"),
    )


def sample_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 8, decode: str = "fake"
) -> DataFrame:
    """Video → frame rows (1→N via mapInPandas). Fake codec: frame payload =
    digest-sliced bytes; ``decode="real"`` decodes with PyAV (ffmpeg
    bindings) when installed."""
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frames_of(raw: bytes) -> list[bytes]:
            return [
                hashlib.sha256(raw + f_no.to_bytes(4, "big")).digest()
                for f_no in range(_fake_frame_count(raw, max_frames))
            ]

        if decode == "real":
            av = _require("av", "video frame sampling")
            import io

            def frames_of(raw: bytes) -> list[bytes]:
                out: list[bytes] = []
                with av.open(io.BytesIO(raw)) as container:
                    stream = container.streams.video[0]
                    next_ts = 0.0
                    for frame in container.decode(stream):
                        if frame.time is not None and frame.time * 1000 < next_ts:
                            continue
                        out.append(frame.to_image().tobytes())
                        next_ts += every_ms
                        if len(out) >= max_frames:
                            break
                return out

        for pdf in it:
            out = {"media_id": [], "frame_no": [], "ts_ms": [], "frame_payload": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for f_no, fp in enumerate(frames_of(bytes(payload))):
                    out["media_id"].append(mid)
                    out["frame_no"].append(f_no)
                    out["ts_ms"].append(f_no * every_ms)
                    out["frame_payload"].append(fp)
            yield pd.DataFrame(out)

    pruned = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return pruned.mapInPandas(batches, FRAME_SAMPLE_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind rollup. Counting is metadata-only; total_bytes necessarily
    scans the blob column — keep the two in separate queries at scale if
    counts are hot."""
    return (
        media.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.length("payload").cast("bigint")).alias("total_bytes"),
        )
        .orderBy("kind")
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def extract_audio_features(media: DataFrame, decode: str = "fake") -> DataFrame:
    """payload → (sample_rate, n_samples, duration_ms) via mapInPandas.
    Fake codec parses the header bytes the way a WAV/FLAC reader would
    (rate from a header byte, sample count from the data length) — all
    integer arithmetic, so the SQL twin recomputes it exactly."""
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode_one = _fake_audio_header

        if decode == "real":
            decode_one = _real_audio_decoder()

        for pdf in it:
            out = {k.name: [] for k in AUDIO_FEATURES_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                rate, n_samples = decode_one(raw)
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n_samples)
                out["duration_ms"].append(n_samples * 1000 // rate)
                out["n_bytes"].append(len(raw))
            yield pd.DataFrame(out)

    pruned = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return pruned.mapInPandas(batches, AUDIO_FEATURES_SCHEMA)


RESIZED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

_RESIZE_PIXEL_CAP = 256  # fake codec caps the pixel buffer it synthesizes


def resize_images(
    media: DataFrame, target_w: int = 64, target_h: int = 64, decode: str = "fake"
) -> DataFrame:
    """payload → re-encoded payload at (target_w, target_h) via mapInPandas
    — the map-only re-encode stage of an image pipeline (thumbnailing /
    model-input normalization). Fake codec: 5-byte header (dims+channels) +
    a digest-stretched pixel buffer of min(w·h·c, cap) bytes; output size
    is a pure function of the input header, so the catalog checks the
    metadata against a SQL twin while pytest pins payload determinism."""
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def resize_one(raw: bytes) -> tuple[int, bytes]:
            p = raw + bytes(8)
            channels = 1 + p[4] % 4
            n_pix = min(target_w * target_h * channels, _RESIZE_PIXEL_CAP)
            pixels = bytearray()
            seed = raw + target_w.to_bytes(2, "big") + target_h.to_bytes(2, "big")
            while len(pixels) < n_pix:
                seed = hashlib.sha256(seed).digest()
                pixels.extend(seed)
            body = (
                target_w.to_bytes(2, "big")
                + target_h.to_bytes(2, "big")
                + bytes([channels])
                + bytes(pixels[:n_pix])
            )
            return channels, body

        if decode == "real":
            pil_image = _optional("PIL.Image")
            if pil_image is not None:
                import io

                def resize_one(raw: bytes) -> tuple[int, bytes]:
                    img = pil_image.open(io.BytesIO(raw))
                    if img.mode == "P":  # match the vendored path's expansion
                        img = img.convert("RGB")
                    img = img.resize((target_w, target_h))
                    buf = io.BytesIO()
                    img.save(buf, format="PNG")
                    return len(img.getbands()), buf.getvalue()
            else:
                from ..functions import purecodec

                real_decode = _real_image_decoder()

                def resize_one(raw: bytes) -> tuple[int, bytes]:
                    w, h, channels, pixels = real_decode(raw)
                    resized = purecodec.resize_nearest(
                        pixels, w, h, channels, target_w, target_h
                    )
                    return channels, purecodec.png_encode(
                        target_w, target_h, channels, resized
                    )

        for pdf in it:
            out = {k.name: [] for k in RESIZED_IMAGE_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                channels, body = resize_one(bytes(payload))
                out["media_id"].append(mid)
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["channels"].append(channels)
                out["payload"].append(body)
                out["n_bytes"].append(len(body))
            yield pd.DataFrame(out)

    pruned = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return pruned.mapInPandas(batches, RESIZED_IMAGE_SCHEMA)


MEDIA_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.LongType(), False),
    ]
)


def extract_media_metadata(
    media: DataFrame,
    decode: str = "fake",
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """EVERY kind's header metadata in ONE decode pass, long format
    (media_id, kind, metric, value).

    The per-kind operators above each scan the media table and spin their
    own Arrow/mapInPandas stage — right when you need one modality, wasteful
    when a pipeline wants the full metadata sweep (the common case: corpus
    QA dashboards, ingest validation). This fuses them: one blob scan, one
    Python worker stage, per-row dispatch on ``kind``; image rows emit
    width/height/channels/n_bytes, audio rows sample_rate/n_samples/
    duration_ms/n_bytes, video rows n_frames (the frame COUNT — sampling
    frame payloads stays in :func:`sample_frames`, which materializes 1→N
    rows). Metrics are integers, so one value column serves all kinds —
    and the long format is what the metadata sinks want anyway.

    ``decode="real"`` resolves each codec lazily per batch, so a corpus
    containing only images never needs the audio/video libraries.
    """
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decode == "fake":
            def image_metrics(raw: bytes) -> list[tuple[str, int]]:
                w, h, c = _fake_image_header(raw)
                return [
                    ("width", w), ("height", h),
                    ("channels", c), ("n_bytes", len(raw)),
                ]

            def audio_metrics(raw: bytes) -> list[tuple[str, int]]:
                rate, n_samples = _fake_audio_header(raw)
                return [
                    ("sample_rate", rate), ("n_samples", n_samples),
                    ("duration_ms", n_samples * 1000 // rate),
                    ("n_bytes", len(raw)),
                ]

            def video_metrics(raw: bytes) -> list[tuple[str, int]]:
                return [("n_frames", _fake_frame_count(raw, max_frames))]
        else:
            import io

            read_header = _real_image_header_reader()
            audio_decode = _real_audio_decoder()

            def image_metrics(raw: bytes) -> list[tuple[str, int]]:
                # header-only: metadata sweeps never materialize pixels
                w, h, channels = read_header(raw)
                return [
                    ("width", w), ("height", h),
                    ("channels", channels), ("n_bytes", len(raw)),
                ]

            def audio_metrics(raw: bytes) -> list[tuple[str, int]]:
                rate, n = audio_decode(raw)
                return [
                    ("sample_rate", rate), ("n_samples", n),
                    ("duration_ms", n * 1000 // rate), ("n_bytes", len(raw)),
                ]

            def video_metrics(raw: bytes) -> list[tuple[str, int]]:
                av = _require("av", "video frame sampling")
                n = 0
                with av.open(io.BytesIO(raw)) as container:
                    stream = container.streams.video[0]
                    next_ts = 0.0
                    for frame in container.decode(stream):
                        if frame.time is not None and frame.time * 1000 < next_ts:
                            continue
                        n += 1
                        next_ts += every_ms
                        if n >= max_frames:
                            break
                return [("n_frames", n)]

        dispatch = {"image": image_metrics, "audio": audio_metrics, "video": video_metrics}
        for pdf in it:
            out = {"media_id": [], "kind": [], "metric": [], "value": []}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                for metric, value in dispatch[kind](bytes(payload)):
                    out["media_id"].append(mid)
                    out["kind"].append(kind)
                    out["metric"].append(metric)
                    out["value"].append(value)
            yield pd.DataFrame(out)

    # unknown kinds are skipped the same way the per-kind operators'
    # kind == ... filters skip them — pushed to the scan, not a Python
    # KeyError mid-job
    pruned = media.filter(
        F.col("kind").isin(list(("image", "audio", "video")))
    ).select("media_id", "kind", "payload")
    return pruned.mapInPandas(batches, MEDIA_METADATA_SCHEMA)
