"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as `binary` columns with a `kind` tag
and a metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched pandas functions over mapInPandas. The CODEC step
is substituted (the project depends on no image/audio codec):
`decode_features` is a deterministic fake decoder (payload-byte
features) and `resize_image` treats the payload as a raw byte grid —
the Spark-side plumbing
(schema, partitioning, UDF signature, Arrow batch shape) and the
numpy resample kernel are fully real and tested; a deployment with
codecs swaps only the bytes->grid step.

Scale notes: payload bytes never leave the executor (mapInPandas
streams Arrow batches); feature vectors are small; repartition before
decode so batches are balanced by payload size, not row count.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id long, kind string, payload binary, width int, height int, duration_ms int"
FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, features array<double>"
FRAME_SCHEMA = "media_id long, frame_idx int, frame_bytes long"
N_FEATURES = 8     # decode_features' vector length
FRAME_BYTES = 16   # frame_sample's payload bytes per frame


def synth_media(spark: SparkSession, n_rows: int = 256) -> DataFrame:
    """Deterministic fake media table: payload = repeated md5 bytes."""
    df = spark.range(n_rows)
    h = F.md5(F.concat(F.lit("media-42-"), F.col("id").cast("string")))
    kind = (
        F.when(F.col("id") % 3 == 0, "image")
        .when(F.col("id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        F.unhex(F.repeat(h, ((F.col("id") % 8) + 1).cast("int"))).alias("payload"),
        ((F.col("id") % 64 + 1) * 16).cast("int").alias("width"),
        ((F.col("id") % 48 + 1) * 16).cast("int").alias("height"),
        ((F.col("id") % 1000) * 40).cast("int").alias("duration_ms"),
    )


def decode_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: binary payload -> small vector.

    The kernel is deterministic and byte-derived (the first N_FEATURES
    bytes / 255, zero-padded) so tests assert exact values with no
    codec dependency; a real codec would replace ``fn`` and keep the
    Arrow plumbing (batch iterator, schema, null payloads).
    """

    def fn(payload: bytes) -> list:
        v = [b / 255.0 for b in payload[:N_FEATURES]]
        return v + [0.0] * (N_FEATURES - len(v))

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [
                None if payload is None else fn(bytes(payload))
                for payload in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "features": feats,
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame) -> DataFrame:
    """Video frame sampling stand-in: one 'frame' per FRAME_BYTES chunk
    of the payload (the real decoder would emit decoded frames) —
    exercises the 1->N mapInPandas fan-out shape."""

    def sample(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vid = pdf[(pdf["kind"] == "video") & pdf["payload"].notna()]
            if len(vid) == 0:
                yield pd.DataFrame(
                    {"media_id": pd.Series(dtype="int64"),
                     "frame_idx": pd.Series(dtype="int32"),
                     "frame_bytes": pd.Series(dtype="int64")}
                )
                continue
            # vectorized 1->N fan-out: per-payload frame counts, then one
            # repeat + one global arange (no per-row Python loop)
            sizes = vid["payload"].map(len).to_numpy(dtype="int64")
            n_frames = (sizes + FRAME_BYTES - 1) // FRAME_BYTES
            media_id = np.repeat(vid["media_id"].to_numpy(), n_frames)
            # frame_idx: global arange minus each payload's start offset
            starts = np.repeat(np.cumsum(n_frames) - n_frames, n_frames)
            frame_idx = np.arange(int(n_frames.sum())) - starts
            tail = np.repeat(sizes, n_frames) - frame_idx * FRAME_BYTES
            yield pd.DataFrame(
                {
                    "media_id": media_id,
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_bytes": np.minimum(tail, FRAME_BYTES),
                }
            )

    return media.mapInPandas(sample, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = "media_id long, kind string, width int, height int, payload binary"

# Source-dim sanity bound. The vectorized kernel never allocates the
# W*H grid (the gather index has h*w entries and stacks only actual
# payload bytes), so this is NOT an OOM guard — it is a corrupt-
# metadata gate: width/height are untrusted METADATA, and a row
# claiming 65535x65535 over a kilobyte payload is garbage whose
# "resize" would be meaningless tiled noise. 2^26 px = 8K x 8K, far
# above any sane single-channel training image; rows beyond it pass
# through as None payloads like the degenerate-dims case.
MAX_SRC_PIXELS = 1 << 26


def resize_image(media: DataFrame, w: int, h: int) -> DataFrame:
    """Nearest-neighbor resize over mapInPandas — pure numpy, no codec.

    The payload is interpreted as a row-major single-channel byte grid
    of the row's (height, width) metadata (the same deterministic
    treatment as decode_features' fallback: a real deployment swaps the
    grid for a codec decode, the resample kernel is unchanged). Payloads
    shorter than width*height are tiled; the kernel is the standard NN
    resample: out[i, j] = in[floor(i*H/h), floor(j*W/w)]. Non-image
    rows, null payloads, degenerate dims, and dims past MAX_SRC_PIXELS
    pass through as None payloads with the target dims, preserving row
    identity for downstream joins.

    Vectorization: the tiled-grid NN gather is, per row, out[p] =
    raw[((yi*W + xj) % len(raw))[p]] — so rows sharing (W, H, len) share
    ONE gather index array and resample as a single stacked numpy take;
    ragged payloads only force a group boundary, never a per-row Python
    loop.
    """
    if w <= 0 or h <= 0:
        raise ValueError(f"resize_image: target dims must be positive, got {w}x{h}")

    def resize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            out = np.full(n, None, dtype=object)
            if n:
                # width/height are nullable in MEDIA_SCHEMA: a row with
                # missing/degenerate/absurd source dims is un-resizable
                # and passes through as None, same as non-image rows —
                # not an opaque executor crash
                wd = pd.to_numeric(pdf["width"], errors="coerce")
                ht = pd.to_numeric(pdf["height"], errors="coerce")
                ok = (
                    (pdf["kind"] == "image").to_numpy()
                    & pdf["payload"].notna().to_numpy()
                    & wd.notna().to_numpy()
                    & ht.notna().to_numpy()
                )
                W_ = wd.fillna(0).to_numpy(dtype="int64")
                H_ = ht.fillna(0).to_numpy(dtype="int64")
                ok &= (W_ > 0) & (H_ > 0) & (W_ * H_ <= MAX_SRC_PIXELS)
                idx = np.flatnonzero(ok)
                if len(idx):
                    raws = [
                        np.frombuffer(bytes(pdf["payload"].iloc[i]), dtype=np.uint8)
                        for i in idx
                    ]
                    lens = np.array([len(r) for r in raws], dtype="int64")
                    keys = np.stack([W_[idx], H_[idx], lens], axis=1)
                    for key in np.unique(keys, axis=0):
                        W, H, L = (int(x) for x in key)
                        sub = np.flatnonzero((keys == key).all(axis=1))
                        if L == 0:
                            for s in sub:
                                out[idx[s]] = bytes(h * w)
                            continue
                        yi = (np.arange(h) * H) // h
                        xj = (np.arange(w) * W) // w
                        gather = ((yi[:, None] * W + xj[None, :]).ravel()) % L
                        stacked = np.stack([raws[s] for s in sub])  # (m, L)
                        resized = stacked[:, gather]  # (m, h*w)
                        for k, s in enumerate(sub):
                            out[idx[s]] = resized[k].tobytes()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": np.int32(w),
                    "height": np.int32(h),
                    "payload": out,
                }
            )

    return media.mapInPandas(resize, schema=RESIZED_SCHEMA)
