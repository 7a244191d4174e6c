"""Multimodal-column plumbing: opaque binary payloads + typed
metadata, processed with Arrow-batched mapInPandas.

The container has no image/audio codecs (re-probed rounds 11-13: PIL,
cv2, imageio, torchvision, av, soundfile, librosa, skimage, ffmpeg
all absent), so the decode step is a clearly-marked stub (decode_image
raises NotImplementedError; the deterministic byte-level feature
path is real). What IS real and
tested end-to-end: the binary column schema, the mapInPandas batch
plumbing (Arrow transfer, per-batch pandas processing, explicit
output schema), and partition behavior — exactly the shape a real
decoder would drop into.

Scale notes: mapInPandas streams Arrow batches (no per-row Python
overhead); binary payloads stay off the driver; a real pipeline
would set spark.sql.execution.arrow.maxRecordsPerBatch to bound
executor memory per batch of images.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.sources.tables import load_table

FEATURE_SCHEMA = "doc_id long, n_bytes long, head_hex string"


# Pluggable codec hook (round 7): an environment WITH image libraries
# points SPARK_GRAFT_IMAGE_CODEC at a "module:function" decoder (e.g.
# "my_codecs:decode_jpeg" wrapping PIL) and the decode path lights up
# with NO code change. Unset, decode_image stays the loud stub.
#
# Resolution rule — ONE rule for both entry points: the env var is
# read in the process that INVOKES the API. decoded_table captures
# the spec on the driver at plan-build time (executor Python workers
# inherit the JVM's environment from session start, so reading it
# there would see stale state); decode_image reads it at each call
# site. Set the variable BEFORE starting the session so driver and
# executors agree; only the codec IMPORT runs in the process that
# executes the decode.
IMAGE_CODEC_ENV = "SPARK_GRAFT_IMAGE_CODEC"


def _load_codec(spec: str):
    """Import a "module:function" codec spec (function defaults to
    ``decode``). Import errors propagate loudly — a declared but
    unloadable codec is misconfiguration, not absence. NOTE: the
    mapInPandas closure in make_decoded_features intentionally
    inlines this parse — the closure pickles BY VALUE so executors
    need not have this package on sys.path; keep the two in step."""
    import importlib

    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr or "decode")


def resolve_image_codec():
    """The configured decoder callable, or None when the environment
    declares no codec (env read here, at the call site)."""
    import os

    spec = os.environ.get(IMAGE_CODEC_ENV)
    return _load_codec(spec) if spec else None


def decode_image(payload: bytes) -> object:
    """Decode via the SPARK_GRAFT_IMAGE_CODEC hook; loud stub when no
    codec is configured (this container has no PIL/libjpeg)."""
    codec = resolve_image_codec()
    if codec is None:
        raise NotImplementedError(
            "image decode requires an image codec: set "
            f"{IMAGE_CODEC_ENV}=module:function to plug one in "
            "(none is present in this environment; byte-level "
            "features below are the codec-free path)"
        )
    return codec(payload)


DECODED_SCHEMA = "doc_id long, width long, height long"


def make_decoded_features():
    """Arrow-batched decode-then-measure: the real pipeline stage a
    codec unlocks. Runs decode_image per payload inside mapInPandas —
    with the env hook set this extracts true (width, height); unset
    it raises the stub's NotImplementedError from the executor
    (loudly, never silently empty). Closure-returned for by-value
    pickling (see make_byte_features)."""

    # codec SPEC captured on the DRIVER at plan-build time; import
    # runs executor-side per worker process (the documented
    # resolution rule, see IMAGE_CODEC_ENV). The spec parse below
    # mirrors _load_codec — inlined, not shared, because this closure
    # must pickle by value with no dependency on this package being
    # importable on executors.
    import os as _os

    spec = _os.environ.get(IMAGE_CODEC_ENV)
    env_name = IMAGE_CODEC_ENV

    def decoded(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import importlib

        import pandas as _pd

        if not spec:
            raise NotImplementedError(
                f"image decode requires an image codec: set "
                f"{env_name}=module:function to plug one in"
            )
        mod, _, attr = spec.partition(":")
        codec = getattr(importlib.import_module(mod), attr or "decode")
        for pdf in batches:
            dims = [codec(bytes(b)) for b in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return decoded


def decoded_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, width, height) through the pluggable decoder."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return blobs.mapInPandas(make_decoded_features(), schema=DECODED_SCHEMA)


def make_byte_features():
    """Deterministic per-batch byte-level feature extraction — the
    stand-in for decode/resize/feature-extract.

    Returned as a fresh closure so cloudpickle serializes it BY VALUE:
    a module-level function would pickle by reference and executors
    would need this package importable (the external driver's workers
    don't have it on sys.path).
    """

    def byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            # a NULL payload keeps its row with NULL features
            payloads = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len, na_action="ignore").astype("Int64"),
                    "head_hex": payloads.map(
                        lambda b: b[:8].hex().upper(), na_action="ignore"
                    ),
                }
            )

    return byte_features


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-shaped as a multimodal table:
    (doc_id, payload binary, meta struct<lang,source,n_chars>)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct("lang", "source", "n_chars").alias("meta"),
    )


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through mapInPandas."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return blobs.mapInPandas(make_byte_features(), schema=FEATURE_SCHEMA)


def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup: bitwise-identical payloads collapse to one
    representative — the content-hash image/audio dedup step, which
    needs no codec at all. JVM-side md5 over the binary column (no
    Python anywhere), one hash-groupBy — the same scale shape as
    dedup-exact, but on raw bytes rather than normalized text."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return (
        blobs.select(
            "doc_id",
            F.md5("payload").alias("content_hash"),
            F.length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
    )


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_chars long, frame_fp string"
N_FRAMES = 4


def make_frame_sampler(n_frames: int = N_FRAMES):
    """Frame sampling over an opaque payload: one input row fans out
    to ``n_frames`` fixed-stride chunks — the exact plumbing shape of
    video frame extraction (decode stubbed; chunking and per-frame
    fingerprinting are real and deterministic).

    Closure-returned for by-value pickling (see make_byte_features).
    """

    def frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_chars": [], "frame_fp": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # a NULL payload has no frames
                    continue
                text = bytes(payload).decode("utf-8")
                # ceil-split into n_frames chunks; trailing short
                # chunk allowed, empty chunks skipped
                stride = -(-len(text) // n_frames) if text else 0
                for i in range(n_frames):
                    chunk = text[i * stride : (i + 1) * stride]
                    if not chunk:
                        continue
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_chars"].append(len(chunk))
                    out["frame_fp"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
            yield _pd.DataFrame(out)

    return frame_sample


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame rows from chunked payloads via mapInPandas fan-out."""
    blobs = binary_table(spark, sf_dir).select("doc_id", "payload")
    return blobs.mapInPandas(make_frame_sampler(), schema=FRAME_SCHEMA)
