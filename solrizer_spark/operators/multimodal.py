"""Multimodal (image/audio/video) column plumbing.

Media assets are opaque ``binary`` columns with typed metadata — the
same pattern as the pages table's ``html`` column. The Spark-side
plumbing (schemas, Arrow batch shape, ``mapInPandas`` fan-out) is real
and tested; there is no codec: a deterministic fake header format
("IMG1" / "AUD1" / "VID1") stands in so the dataflow is verifiable
end-to-end.

Fake header layout (ASCII, fixed width):
    IMG1<width:6><height:6><channels:1>payload…
    AUD1<sample_rate:6><n_samples:8>payload…
    VID1<width:6><height:6><n_frames:4>payload…
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def parse_media_header(payload: bytes | None) -> dict:
    """Deterministic fake-codec header parse (the stub decode)."""
    out = {
        "kind": None, "width": None, "height": None, "channels": None,
        "sample_rate": None, "n_samples": None, "n_frames": None,
        "n_bytes": len(payload) if payload else 0, "valid": False,
    }
    if not payload or len(payload) < 4:
        return out
    magic = payload[:4].decode("ascii", errors="replace")
    try:
        if magic == "IMG1":
            out.update(
                kind="image",
                width=int(payload[4:10]), height=int(payload[10:16]),
                channels=int(payload[16:17]), valid=True,
            )
        elif magic == "AUD1":
            out.update(
                kind="audio",
                sample_rate=int(payload[4:10]), n_samples=int(payload[10:18]),
                valid=True,
            )
        elif magic == "VID1":
            out.update(
                kind="video",
                width=int(payload[4:10]), height=int(payload[10:16]),
                n_frames=int(payload[16:20]), valid=True,
            )
    except (ValueError, UnicodeDecodeError):
        out["valid"] = False
    return out


def media_metadata_stage(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Add a typed ``media_meta`` struct via an Arrow-batched
    mapInPandas-style pandas UDF (binary in → struct out), parsed by
    the deterministic fake-header :func:`parse_media_header`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(MEDIA_META_TYPE)
    def meta_udf(payload: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([parse_media_header(p) for p in payload])

    return df.withColumn("media_meta", meta_udf(F.col(payload_col)))


def frame_sample_stage(
    df: DataFrame,
    payload_col: str = "payload",
    every_n: int = 10,
) -> DataFrame:
    """Fan one video row out to sampled-frame rows (1→N) with
    ``mapInPandas`` — the shape a real frame extractor uses (decode
    keyframes per Arrow batch, emit one row per sampled frame). Frame
    'content' is stubbed as a deterministic fingerprint of
    (asset bytes, frame index)."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("frame_fingerprint", T.StringType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf[payload_col]):
                meta = parse_media_header(payload)
                if not meta["valid"] or meta["kind"] != "video":
                    continue
                for idx in range(0, meta["n_frames"], every_n):
                    fp = hashlib.md5(bytes(payload[:20]) + str(idx).encode()).hexdigest()
                    rows.append((int(asset_id), idx, fp))
            yield pd.DataFrame(rows, columns=["asset_id", "frame_index", "frame_fingerprint"])

    return df.select("asset_id", payload_col).mapInPandas(sample, out_schema)


def pseudo_embedding(data: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature extractor: md5-derived values in
    [0,1) per dimension — same bytes in → same vector out on any
    executor, and exactly reproducible in SQL (md5-prefix convention
    shared with the dedup/sampling oracles). Swap for a real encoder
    on images with vision/audio libraries."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.md5(data + b":" + str(j).encode()).hexdigest()[:15]
        out.append((int(h, 16) % 1000) / 1000.0)
    return out


def media_feature_stage(
    df: DataFrame,
    payload_col: str = "payload",
    dim: int = 8,
    extractor=None,
) -> DataFrame:
    """Feature-extraction plumbing (the "feature-extract" step of a
    multimodal training pipeline): binary payload → fixed-size double
    vector via an Arrow-batched pandas UDF — batch shape, schema, and
    null handling are the real thing; the default ``extractor`` is the
    deterministic :func:`pseudo_embedding` (this image has no
    vision/audio models — pass a real encoder with the same
    ``(payload_bytes, dim) -> list[float]`` signature on cluster
    images, e.g. a CLIP/whisper wrapper that projects/pads to
    ``dim``)."""
    from pyspark.sql.functions import pandas_udf

    ex = extractor or pseudo_embedding

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def feat_udf(payload: pd.Series) -> pd.Series:
        return payload.map(lambda p: ex(bytes(p), dim) if p is not None else None)

    # (Round 6 note: a min-parallelism repartition guard here was
    # measured SLOWER at bench scale — shuffling the binary payloads
    # plus 32 Arrow task round-trips cost more than the single-task
    # pseudo-embedding pass. Callers with a real heavyweight encoder
    # should repartition upstream.)
    return df.withColumn("features", feat_udf(F.col(payload_col)))
