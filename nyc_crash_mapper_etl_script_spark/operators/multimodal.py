"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct.  The Spark-side plumbing -- schema, partition-sized
Arrow batches, ``mapInPandas`` signatures -- is real and tested.  The
codec layer is OPTIONAL: when Pillow is installed on the executors
(``pil_image_module``), ``decode_media``/``resize_media`` decode and
resample real images; otherwise they fall back to ``decode_stub`` /
``resize_stub`` -- a deterministic fake deriving "features" from the
bytes, which raises ``NotImplementedError`` when ``strict=True`` so a
production deployment fails loudly instead of silently shipping fake
features.  The registered/oracled queries pin ``codec="stub"`` so
results are bit-reproducible regardless of installed libraries;
``codec="auto"`` opts into real decoding.

Scale notes: ``mapInPandas`` streams Arrow record batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``) so a 100 TB binary
column never materializes per-executor; keep batch row counts low for
large payloads (the knob is rows, not bytes).  Partitioning should be
by content hash, not source file, to even out skewed media sizes.
"""

from __future__ import annotations

import hashlib
import importlib.util
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pil_image_module():
    """``PIL.Image`` when Pillow is installed in this interpreter,
    else ``None``.  The codec path is OPTIONAL by design: the engine's
    plumbing (schemas, Arrow batching, UDF signatures) never depends
    on the codec library being present."""
    if importlib.util.find_spec("PIL") is None:
        return None
    from PIL import Image

    return Image

#: media payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_sha", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def make_media_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media table from the documents fixture: payload =
    utf-8 bytes of the text (a deterministic opaque blob), metadata
    derived from the id.  Stands in for real image bytes end-to-end.
    """
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            (F.col(id_col) % 640 + 32).cast("int").alias("width"),
            (F.col(id_col) % 480 + 32).cast("int").alias("height"),
            (F.col(id_col) % 10000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, n_features: int = 8, strict: bool = False) -> list[float]:
    """STUB for the real image/audio decode + feature extraction.

    The real implementation would decode with PIL/ffmpeg/torchvision
    (not installed here).  The fake derives n_features floats from the
    sha256 of the bytes -- deterministic, so the pipeline around it is
    fully testable."""
    if strict:
        raise NotImplementedError(
            "media decode requires codec libraries not present in this environment"
        )
    digest = hashlib.sha256(payload or b"").digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / float(1 << 32)
        for i in range(n_features)
    ]


def decode_media(
    payload: bytes,
    n_features: int = 8,
    strict: bool = False,
    image_module=None,
) -> list[float]:
    """Feature-extract one payload: REAL decode when an image codec
    backend is available (grayscale-downsample to n_features pixel
    intensities in [0, 1] -- a deterministic, library-stable
    embedding), the sha256 stub otherwise.

    ``image_module`` injects the backend (tests pass a fake; callers
    leave it None to auto-discover Pillow).  A payload the backend
    cannot decode (audio bytes, truncated file) raises when
    ``strict=True`` and falls back to the stub otherwise, so a mixed
    media table still yields one feature row per input."""
    mod = image_module if image_module is not None else pil_image_module()
    if mod is not None:
        try:
            img = mod.open(io.BytesIO(payload or b""))
            gray = img.convert("L").resize((n_features, 1))
            return [v / 255.0 for v in list(gray.getdata())[:n_features]]
        except NotImplementedError:
            raise
        except Exception:
            if strict:
                raise
    return decode_stub(payload, n_features, strict=strict and mod is None)


def extract_features(
    media: DataFrame, n_features: int = 8, codec: str = "stub"
) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    Vectorized at the batch level: one Python call per Arrow batch,
    not per row (the 10-100x difference vs a row UDF at scale).

    ``codec="stub"`` (default) pins the deterministic sha-derived
    features regardless of installed libraries -- the reproducible,
    oracle-replayable mode.  ``codec="auto"`` decodes for real when
    Pillow is installed on the executors and stubs otherwise."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        if codec == "auto":
            fe = lambda p: decode_media(p, n_features)  # noqa: E731
        else:
            fe = lambda p: decode_stub(p, n_features)  # noqa: E731
        for pdf in batches:
            feats = [fe(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha": [
                        hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]
                    ],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)


def resize_stub(payload: bytes, w: int, h: int, strict: bool = False) -> bytes:
    """STUB for image resize (real implementation: PIL/libvips, not in this
    container).  Deterministic fake: tag the payload with the target
    box so downstream steps see a changed, reproducible blob."""
    if strict:
        raise NotImplementedError(
            "image resize requires codec libraries not present in this environment"
        )
    return (payload or b"") + f"|resized:{w}x{h}".encode()


def resize_media(
    payload: bytes,
    w: int,
    h: int,
    strict: bool = False,
    image_module=None,
) -> bytes:
    """Resize one image payload: REAL resample-to-PNG when a codec
    backend exists (injected or auto-discovered Pillow), the
    tag-the-bytes stub otherwise; undecodable payloads raise in
    strict mode and fall back to the stub otherwise."""
    mod = image_module if image_module is not None else pil_image_module()
    if mod is not None:
        try:
            img = mod.open(io.BytesIO(payload or b""))
            buf = io.BytesIO()
            img.resize((w, h)).save(buf, format="PNG")
            return buf.getvalue()
        except NotImplementedError:
            raise
        except Exception:
            if strict:
                raise
    return resize_stub(payload, w, h, strict=strict and mod is None)


def resize_images(
    media: DataFrame, width: int, height: int, codec: str = "stub"
) -> DataFrame:
    """Resize every image payload to width x height via mapInPandas
    (one Python call per Arrow batch).  Non-image rows pass through
    untouched.  Metadata struct is rewritten to the new box so the
    schema contract holds end-to-end.  ``codec`` as in
    :func:`extract_features`."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        if codec == "auto":
            rs = lambda p: resize_media(p, width, height)  # noqa: E731
        else:
            rs = lambda p: resize_stub(p, width, height)  # noqa: E731
        for pdf in batches:
            is_img = pdf["kind"] == "image"
            payloads = [
                rs(p) if img else p
                for p, img in zip(pdf["payload"], is_img)
            ]
            metas = [
                {**m, "width": width, "height": height} if img else m
                for m, img in zip(pdf["meta"], is_img)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "meta": metas,
                }
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("offset_ms", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def frame_sample(media: DataFrame, n_frames: int = 4, strict: bool = False) -> DataFrame:
    """Sample n_frames evenly-spaced frames from each video payload
    (decode stubbed: each fake frame is payload-sha-derived and offset
    -tagged, so rows are deterministic).  One output row per frame —
    the fan-out happens inside the Arrow batch, so a 100 TB video
    column streams through without materializing per-executor."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "offset_ms": [], "frame": []}
            for mid, kind, payload, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                if kind != "video":
                    continue
                if strict:
                    raise NotImplementedError(
                        "video decode requires codec libraries not present"
                    )
                duration = int(meta["duration_ms"] or 0)
                for i in range(n_frames):
                    off = (duration * i) // max(n_frames, 1)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["offset_ms"].append(off)
                    out["frame"].append(
                        hashlib.sha256((payload or b"") + str(off).encode()).digest()
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)
