"""Multimodal column plumbing (extension layer): image/audio/video as
opaque ``binary`` payloads + typed metadata, with decode / feature
extraction as Arrow-batched ``mapInPandas`` stages.

The container has no image/audio libraries, so the decode kernel is a
STUB with two modes:
- ``fake`` (default): a deterministic, dependency-free stand-in that
  derives pseudo-metadata (width/height/n_frames) from the payload
  bytes — making the Spark-side contract (schema, batch iteration,
  partition preservation) fully testable;
- ``real``: raises NotImplementedError at the exact seam where
  PIL/librosa/ffmpeg decoding would plug in on a cluster image.

Scale notes: payloads stay in executor memory only batch-at-a-time
(Arrow ``mapInPandas`` iterator — never a full-partition materialize);
`spark.sql.files.maxPartitionBytes` bounds scan partitions so a 100 TB
binary table streams through fixed-size batches; metadata-only queries
never touch the payload column thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "media_id long, media_type string, n_bytes long, width int, height int, "
    "n_frames int, checksum string"
)


def payload_frame(df: DataFrame, id_col: Column, payload: Column, media_type: Column) -> DataFrame:
    """Canonical multimodal frame: (media_id, media_type, payload binary,
    n_bytes, checksum).  Metadata is computed as column expressions so
    metadata-only consumers prune the payload at scan time."""
    return df.select(
        id_col.alias("media_id"),
        media_type.alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("checksum"),
    )


def decode_metadata(df: DataFrame, mode: str = "fake") -> DataFrame:
    """Decode/feature-extract stage as ``mapInPandas`` (Arrow batches).

    ``df`` must be a payload_frame.  ``mode='real'`` marks the seam for
    actual media libraries (not present in this container).

    The batch kernel is a fully self-contained closure (stdlib imports
    only, no references to this module's globals) so cloudpickle ships
    it BY VALUE — executors never need this package on their
    ``sys.path``, which a driver-created session does not provide.
    """
    if mode == "real":  # pragma: no cover - cluster-image integration point
        raise NotImplementedError(
            "real media decoding needs PIL/librosa/ffmpeg on the image; "
            "use mode='fake' for plumbing tests"
        )

    def run(batches: Iterator) -> Iterator:
        # deterministic pseudo-decode: metadata derived from the
        # payload's sha256 — which payload_frame ALREADY computed in
        # the JVM as `checksum` (F.sha2 emits the same lowercase hex
        # hashlib would), so the kernel reads the 64-char digest and
        # the JVM n_bytes instead of re-hashing the raw bytes.  The
        # payload column never crosses the Arrow boundary in fake
        # mode: the real-decode seam is where the bytes would ship.
        for pdf in batches:
            out = pdf[["media_id", "media_type", "n_bytes"]].copy()
            widths, heights, frames = [], [], []
            for h in pdf["checksum"]:
                widths.append(16 + (int(h[:4], 16) % 4080))
                heights.append(16 + (int(h[4:8], 16) % 2144))
                frames.append(1 + (int(h[8:12], 16) % 300))
            out["width"] = widths
            out["height"] = heights
            out["n_frames"] = frames
            out["checksum"] = pdf["checksum"]
            yield out[
                ["media_id", "media_type", "n_bytes", "width", "height", "n_frames", "checksum"]
            ]

    return df.select(
        "media_id", "media_type", "n_bytes", "checksum"
    ).mapInPandas(run, schema=DECODED_SCHEMA)


def extract_features(df: DataFrame, dim: int = 16, mode: str = "fake") -> DataFrame:
    """Feature-extraction stage: payload -> float embedding (the CLIP/
    wav2vec seam).  The ``fake`` kernel derives a deterministic unit
    vector from the payload's sha256 — downstream ANN/dedup plumbing
    (array<float> column, cosine math) is exercised for real."""
    if mode == "real":  # pragma: no cover - cluster-image integration point
        raise NotImplementedError("real feature extraction needs a model runtime")

    def run(batches: Iterator) -> Iterator:
        import hashlib
        import math as m
        import struct

        for pdf in batches:
            out = pdf[["media_id"]].copy()
            vecs = []
            for payload in pdf["payload"]:
                h = hashlib.sha256(bytes(payload)).digest()
                raw = [
                    struct.unpack(">H", h[(2 * i) % 30 : (2 * i) % 30 + 2])[0] / 65535.0 - 0.5
                    for i in range(dim)
                ]
                norm = m.sqrt(sum(x * x for x in raw)) or 1.0
                vecs.append([x / norm for x in raw])
            out["features"] = vecs
            yield out

    return df.mapInPandas(run, schema="media_id long, features array<float>")


FRAME_SCHEMA = (
    "media_id long, frame_idx int, start_sample long, end_sample long, "
    "frame_rms int, n_windows long, n_samples long"
)


def frame_audio(
    df: DataFrame,
    frame_len: int = 400,
    hop: int = 160,
    preview: int = 6,
    mode: str = "fake",
) -> DataFrame:
    """Audio framing stage as ``mapInPandas``: one input clip row
    expands to one row per analysis window — the librosa/wav2vec
    ``frame_length``/``hop_length`` shape (center=False) every audio
    training pipeline needs between decode and the feature encoder.

    ``df`` must be a :func:`decode_metadata` frame (media_id,
    checksum).  Window geometry is real: a clip of ``n`` samples
    yields ``1 + (n - frame_len) // hop`` windows (0 when
    ``n < frame_len``), window ``i`` covering samples
    ``[i*hop, i*hop + frame_len)``; per-window rows are emitted for
    the first ``preview`` windows while ``n_windows`` reports the full
    count (the corpus-audit bound — uncap on a cluster).  In ``fake``
    mode the clip length derives deterministically from the payload
    checksum and the per-window RMS statistic from
    sha256(checksum:idx) — the ``real`` seam would read decoded
    samples."""
    if mode == "real":  # pragma: no cover - cluster-image integration point
        raise NotImplementedError("real audio framing needs decoded samples")

    def run(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, idxs, starts, ends, rmss, wins, samps = (
                [], [], [], [], [], [], [],
            )
            for mid, chk in zip(pdf["media_id"], pdf["checksum"]):
                n = 1000 + (int(chk[12:16], 16) % 100000)
                nw = 1 + (n - frame_len) // hop if n >= frame_len else 0
                for i in range(min(nw, preview)):
                    ids.append(int(mid))
                    idxs.append(i)
                    starts.append(i * hop)
                    ends.append(i * hop + frame_len)
                    fh = hashlib.sha256(f"{chk}:{i}".encode()).hexdigest()
                    rmss.append(int(fh[:4], 16) % 32768)
                    wins.append(nw)
                    samps.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "start_sample": pd.Series(starts, dtype="int64"),
                    "end_sample": pd.Series(ends, dtype="int64"),
                    "frame_rms": pd.Series(rmss, dtype="int32"),
                    "n_windows": pd.Series(wins, dtype="int64"),
                    "n_samples": pd.Series(samps, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=FRAME_SCHEMA)


PATCH_SCHEMA = (
    "media_id long, patch_ix int, patch_iy int, patch_w int, patch_h int, "
    "patch_mean int, n_patches long"
)


def patchify_images(
    df: DataFrame,
    patch: int = 16,
    preview: int = 4,
    mode: str = "fake",
) -> DataFrame:
    """ViT-style patchify stage as ``mapInPandas``: one input image row
    expands to one row per patch — the row-expansion shape every
    vision-training pipeline needs between decode and the patch
    encoder.

    ``df`` must be a :func:`decode_metadata` frame (media_id, width,
    height, checksum).  Geometry is real: a W×H image yields
    ``ceil(W/patch) × ceil(H/patch)`` patches, edge patches truncated
    to the remaining pixels; ``n_patches`` reports the full grid while
    per-patch rows are emitted for the ``preview × preview`` top-left
    window (callers bound output when auditing a corpus — drop the cap
    on a cluster to materialize all patches).  In ``fake`` mode the
    patch content statistic derives deterministically from
    sha256(checksum:ix:iy) — the ``real`` seam would compute it from
    decoded pixels."""
    if mode == "real":  # pragma: no cover - cluster-image integration point
        raise NotImplementedError("real patchify needs decoded pixel data")

    def run(batches: Iterator) -> Iterator:
        import hashlib
        import math

        for pdf in batches:
            ids, ixs, iys, pws, phs, means, totals = [], [], [], [], [], [], []
            for mid, w, h, chk in zip(
                pdf["media_id"], pdf["width"], pdf["height"], pdf["checksum"]
            ):
                w, h = int(w), int(h)
                nx, ny = math.ceil(w / patch), math.ceil(h / patch)
                for ix in range(min(nx, preview)):
                    for iy in range(min(ny, preview)):
                        ids.append(int(mid))
                        ixs.append(ix)
                        iys.append(iy)
                        pws.append(min(patch, w - ix * patch))
                        phs.append(min(patch, h - iy * patch))
                        ph = hashlib.sha256(
                            f"{chk}:{ix}:{iy}".encode()
                        ).hexdigest()
                        means.append(int(ph[:4], 16) % 256)
                        totals.append(nx * ny)
            import pandas as pd

            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "patch_ix": pd.Series(ixs, dtype="int32"),
                    "patch_iy": pd.Series(iys, dtype="int32"),
                    "patch_w": pd.Series(pws, dtype="int32"),
                    "patch_h": pd.Series(phs, dtype="int32"),
                    "patch_mean": pd.Series(means, dtype="int32"),
                    "n_patches": pd.Series(totals, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=PATCH_SCHEMA)
