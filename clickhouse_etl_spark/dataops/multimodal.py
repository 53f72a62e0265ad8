"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct alongside. Decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages — the Spark
side (schema contracts, batch iteration, partition sizing) is real and
tested; the codec itself is stubbed behind ``_decode_bytes`` because
the image/audio libraries are not available in this environment
(clearly marked; swap in PIL/libav there).

Scale notes: mapInPandas streams Arrow batches — memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of blob
size skew; repartition by a size-bucketed key upstream when payloads
vary by orders of magnitude so one partition doesn't hold all the
4K videos.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import _arrow_pass

#: metadata contract for a multimodal asset column
ASSET_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image/audio/video
        T.StructField("format", T.StringType()),       # png/jpeg/wav/mp4/...
        T.StructField("n_bytes", T.LongType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def _decode_bytes(payload: bytes, fmt: str) -> tuple[int, int, int]:
    """STUB — deterministic fake decoder.

    Real deployments replace this with PIL / soundfile / pyav. The
    fake derives (width, height, channels) deterministically from the
    payload so tests are stable. Raises for unknown formats exactly
    like a real codec would.
    """
    if fmt not in ("png", "jpeg", "wav", "mp4"):
        raise NotImplementedError(f"no codec for format {fmt!r} (decode stub)")
    n = len(payload)
    return (n % 640 + 1, (n * 7) % 480 + 1, 3 if fmt in ("png", "jpeg") else 1)


def attach_asset_meta(
    df: DataFrame, payload_col: str = "payload", media_type: str = "image", fmt: str = "png"
) -> DataFrame:
    """Wrap a binary column with the typed metadata struct."""
    return df.withColumn(
        "asset_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.length(F.col(payload_col)).cast("bigint").alias("n_bytes"),
        ),
    )


_KNOWN_FORMATS = ("png", "jpeg", "wav", "mp4")


def _meta_field(m, name: str):
    # struct cells arrive as dicts via Arrow; Rows when built driver-side
    return m[name] if isinstance(m, dict) else getattr(m, name)


def decode_assets(
    df: DataFrame, id_col: str = "asset_id", payload_col: str = "payload"
) -> DataFrame:
    """Decode binary assets to shape metadata via Arrow-batched
    mapInPandas. Failed decodes produce decode_ok=false rows instead of
    failing the stage (DLQ-style row-level error isolation).

    The batch loop is columnar: metadata fields and byte lengths are
    extracted as whole Series, and only rows with a known format reach
    the codec — as a zip over plain arrays, not ``iterrows`` (per-row
    Series construction is the classic mapInPandas hot-loop killer).
    """
    import numpy as np

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            meta = pdf["asset_meta"]
            fmts = meta.map(lambda m: _meta_field(m, "format"))
            mts = meta.map(lambda m: _meta_field(m, "media_type"))
            payloads = pdf[payload_col].map(
                lambda b: b if isinstance(b, bytes) else (b"" if b is None else bytes(b))
            )
            n_bytes = payloads.map(len).astype("int64")

            width = np.full(n, None, dtype=object)
            height = np.full(n, None, dtype=object)
            channels = np.full(n, None, dtype=object)
            ok = np.zeros(n, dtype=bool)

            decodable = fmts.isin(_KNOWN_FORMATS).to_numpy()
            idxs = np.flatnonzero(decodable)
            # codec seam: per-row by nature (swap _decode_bytes for
            # PIL/soundfile/pyav); corrupt payloads flip decode_ok only
            for i, payload, fmt in zip(
                idxs, payloads.to_numpy()[idxs], fmts.to_numpy()[idxs]
            ):
                try:
                    width[i], height[i], channels[i] = _decode_bytes(payload, fmt)
                    ok[i] = True
                except Exception:  # noqa: BLE001 — row-level isolation
                    pass

            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col].astype("int64"),
                    "media_type": mts,
                    "format": fmts,
                    "n_bytes": n_bytes,
                    "width": pd.array(width, dtype="Int32"),
                    "height": pd.array(height, dtype="Int32"),
                    "n_channels": pd.array(channels, dtype="Int32"),
                    "decode_ok": ok,
                }
            )

    return df.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("resize_ok", T.BooleanType()),
    ]
)


def _resize_bytes(payload: bytes, fmt: str, width: int, height: int) -> bytes:
    """STUB — deterministic fake resizer (real deployments: PIL/libav).

    Emits a compact deterministic digest payload instead of real pixel
    data so tests are stable and memory-bounded; raises for unknown
    formats exactly like a real codec would."""
    if fmt not in ("png", "jpeg"):
        raise NotImplementedError(f"no resizer for format {fmt!r} (resize stub)")
    if not payload:
        raise ValueError("empty payload (a real codec fails on truncated input)")
    h = 1469598103934665603
    for b in payload[:4096]:
        h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    h ^= (width << 32) | height
    return h.to_bytes(8, "big") + len(payload).to_bytes(8, "big")


def resize_assets(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize image assets to (width, height) via Arrow-batched
    mapInPandas — the standard vision-pipeline normalization stage.
    Unknown formats produce resize_ok=false rows (row-level isolation,
    same DLQ-style contract as decode_assets)."""
    import numpy as np

    def resize(pdf):
        n = len(pdf)
        fmts = pdf["asset_meta"].map(lambda m: _meta_field(m, "format"))
        payloads = pdf[payload_col].map(
            lambda b: b if isinstance(b, bytes) else (b"" if b is None else bytes(b))
        )
        out = np.full(n, None, dtype=object)
        ok = np.zeros(n, dtype=bool)
        decodable = fmts.isin(("png", "jpeg")).to_numpy()
        idxs = np.flatnonzero(decodable)
        for i, payload, fmt in zip(idxs, payloads.to_numpy()[idxs], fmts.to_numpy()[idxs]):
            try:
                out[i] = _resize_bytes(payload, fmt, width, height)
                ok[i] = True
            except Exception:  # noqa: BLE001 — row-level isolation
                pass
        return None, [pdf[id_col], fmts, [width] * n, [height] * n, out, ok]

    return _arrow_pass(df, RESIZED_SCHEMA.fields, "resize_assets", keep=())(
        lambda: resize
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 16,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Sample frames from video assets at a fixed stride — the 1→N
    explode shape of a frame-extraction stage, as mapInPandas yielding
    multiple output rows per input row (memory stays bounded by the
    Arrow batch, not the video length).

    STUB codec: the fake "video" duration is ``n_bytes`` milliseconds
    and each frame payload is a deterministic 8-byte slice digest; a
    real deployment decodes with pyav and yields JPEG frames. Non-video
    assets yield no rows (filter-in-flight, the frame table is sparse).
    """

    def frames(pdf):
        ids, fidx, fts, fpay = [], [], [], []
        for aid, payload, m in zip(
            pdf[id_col].to_numpy(),
            pdf[payload_col].to_numpy(),
            pdf["asset_meta"].to_numpy(),
        ):
            if _meta_field(m, "media_type") != "video":
                continue
            raw = payload if isinstance(payload, bytes) else (b"" if payload is None else bytes(payload))
            duration_ms = len(raw)
            n = min(max_frames, max(duration_ms // every_ms, 0))
            for k in range(n):
                ts = k * every_ms
                lo = ts % max(len(raw) - 8, 1) if raw else 0
                ids.append(int(aid)); fidx.append(k); fts.append(ts)
                fpay.append(raw[lo : lo + 8] if raw else b"")
        return None, [ids, fidx, fts, fpay]

    return _arrow_pass(df, FRAME_SCHEMA.fields, "sample_frames", keep=())(
        lambda: frames
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("feature_ok", T.BooleanType()),
    ]
)


def extract_features(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Asset → fixed-``dim`` float feature vector (the embedding stage
    of a multimodal pipeline), Arrow-batched and numpy-vectorized: the
    byte histogram fold runs as one bincount per row, no per-byte
    Python. STUB featurizer — deterministic byte-bucket histogram,
    L2-normalized; a real deployment swaps in a vision/audio encoder.
    The output column shape matches the embeddings table
    (``array<float>``), so the similarity/dedup ops (cosine_topk,
    semantic_dedup, lsh/ivf) compose directly downstream."""
    import numpy as np

    def features(pdf):
        feats, oks = [], []
        for payload in pdf[payload_col].to_numpy():
            raw = payload if isinstance(payload, bytes) else (b"" if payload is None else bytes(payload))
            if not raw:
                feats.append(None); oks.append(False); continue
            arr = np.frombuffer(raw, dtype=np.uint8)
            hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
            nrm = float(np.sqrt((hist * hist).sum()))
            feats.append((hist / nrm).astype(np.float32) if nrm else None)
            oks.append(nrm > 0)
        return None, [pdf[id_col], feats, oks]

    return _arrow_pass(df, FEATURE_SCHEMA.fields, "extract_features", keep=())(
        lambda: features
    )


def pool_frame_features(
    df: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 16,
    dim: int = 64,
    id_col: str = "asset_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Video asset → ONE embedding: frame-sample → per-frame features →
    order-fixed mean pool — the temporal-pooling stage that turns the
    sparse frame table back into one row per asset, shaped like the
    embeddings table so the similarity/dedup ops compose downstream.

    Determinism: frames pack into a composite id (asset*1000 + index),
    per-asset frame features are sorted by frame index and mean-pooled
    with a sequential element-wise fold — no shuffle-order-dependent
    double sums. One frame explode + one hash-shuffle on the asset id.

    Output: (asset_id, n_frames, embedding array<double>); assets with
    zero decodable frames are omitted (sparse, like sample_frames).
    """
    from pyspark.sql import functions as F

    frames = sample_frames(
        df, every_ms=every_ms, max_frames=max_frames,
        id_col=id_col, payload_col=payload_col,
    )
    assert max_frames < 1000, "composite frame id packs index into 3 digits"
    packed = frames.select(
        (F.col("asset_id") * 1000 + F.col("frame_index")).alias("fid"),
        F.col("frame_payload").alias("payload"),
    )
    ff = extract_features(packed, dim=dim, id_col="fid").filter(F.col("feature_ok"))
    unpacked = ff.select(
        F.floor(F.col("asset_id") / 1000).cast("long").alias("aid"),
        (F.col("asset_id") % 1000).cast("int").alias("fidx"),
        "feature",
    )
    grouped = unpacked.groupBy("aid").agg(
        F.sort_array(F.collect_list(F.struct("fidx", "feature"))).alias("_fs")
    )
    summed = F.aggregate(
        F.col("_fs"),
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, fr: F.zip_with(
            acc, fr["feature"], lambda a, x: a + x.cast("double")
        ),
    )
    n = F.size("_fs")
    return grouped.select(
        F.col("aid").alias("asset_id"),
        n.cast("int").alias("n_frames"),
        F.transform(summed, lambda v: v / n.cast("double")).alias("embedding"),
    )
