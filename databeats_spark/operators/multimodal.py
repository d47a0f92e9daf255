"""Multimodal (image/audio/video) column operators.

Media payloads are opaque ``binary`` columns + a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. The container has no codec libraries
(PIL/cv2/librosa), so the decoder bodies are STUBS — a deterministic
fake keyed on the payload bytes, clearly marked, behind the same
interface a real decoder would implement. Everything Spark-side
(schema, batch iteration, partition sizing, null handling) is real and
tested.

Design for 100 TB: payloads never shuffle — decode stages are
narrow (mapInPandas preserves partitioning), metadata-only columns
flow onward, and the binary column is pruned as soon as features are
extracted.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURE_SCHEMA = (
    "doc_id long, byte_len long, format string, width int, height int, embedding array<float>"
)


def attach_payload(df: DataFrame) -> DataFrame:
    """Materialize a binary ``payload`` column (here derived from
    ``text``; in production this is the raw media bytes from the lake)."""
    return df.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def _fake_decode(payload: bytes) -> tuple[str, int, int]:
    """STUB decoder. A real implementation would call PIL/ffmpeg —
    unavailable in this image. Deterministic on content so tests can
    assert exact values. Raises on empty payloads like a real codec."""
    if not payload:
        raise ValueError("cannot decode empty payload")
    h = hashlib.sha256(payload).digest()
    fmt = ["jpeg", "png", "webp"][h[0] % 3]
    width = 64 + h[1] % 192
    height = 64 + h[2] % 192
    return fmt, width, height


def _fake_embedding(payload: bytes, dim: int = 8) -> np.ndarray:
    """STUB feature extractor (real: a vision tower). Deterministic
    unit-norm vector derived from the content hash."""
    h = hashlib.sha256(payload).digest()
    v = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32).astype(
        np.float64
    )
    v = (v % 1000) / 1000.0 + 1e-6
    return (v / np.linalg.norm(v)).astype(np.float32)


def decode_image_features(df: DataFrame) -> DataFrame:
    """decode ``payload`` → metadata + 8-dim embedding per ``doc_id``,
    one Arrow batch at a time.

    The output drops the payload column: downstream operators work on
    features only, so the heavy bytes never cross a shuffle boundary.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zip the two columns directly — iterrows() builds a Series
            # per row and dominates the batch cost; the codec call is
            # per-payload either way
            recs = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                fmt, w, h = _fake_decode(payload)
                recs.append(
                    {
                        "doc_id": doc_id,
                        "byte_len": len(payload),
                        "format": fmt,
                        "width": w,
                        "height": h,
                        "embedding": _fake_embedding(payload).tolist(),
                    }
                )
            yield pd.DataFrame(recs)

    return df.select("doc_id", "payload").mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


def encode_payloads(
    df: DataFrame,
    encoder=None,
    embed_dim: int = 8,
    batch_size: int = 64,
) -> DataFrame:
    """The embedding-generation seam: ``payload`` bytes → embedding
    column per ``doc_id``,
    with the MODEL injected the same way sources/rest.py injects its
    transport — ``encoder(payloads: list[bytes]) -> ndarray (n, dim)``
    is the batch-inference signature every real encoder (vision tower,
    audio encoder, API client) exposes; the default is the stub
    feature extractor so the stage runs in this image.

    Spark-side contract (the real, tested part): Arrow-batched
    ``mapInPandas``, each Arrow batch re-chunked to ``batch_size`` (the
    model's batch bound — GPU memory, API limits — never a whole
    partition in flight), shape-validated per chunk so a mis-sized
    model fails loudly at the first batch, payload column dropped on
    output so the heavy bytes never cross a shuffle. The output feeds
    :class:`databeats_spark.ml.ann.IVFIndex.fit` / SemDeDup directly —
    one pipeline from raw media to the similarity surface.
    """
    if encoder is None:

        def encoder(payloads: list) -> np.ndarray:  # STUB model
            return np.stack([_fake_embedding(p, embed_dim) for p in payloads])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                vecs = np.asarray(encoder(list(chunk["payload"])), dtype=np.float32)
                if vecs.shape != (len(chunk), embed_dim):
                    raise ValueError(
                        f"encoder returned shape {vecs.shape}, expected "
                        f"({len(chunk)}, {embed_dim})"
                    )
                yield pd.DataFrame(
                    {
                        "doc_id": chunk["doc_id"].to_numpy(),
                        "embedding": [v.tolist() for v in vecs],
                    }
                )

    # carry the caller's id type through (string/uuid keys are as
    # legitimate as longs; hardcoding would break at the first batch)
    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select("doc_id", "payload").mapInPandas(
        run, schema=f"doc_id {id_type}, embedding array<float>"
    )


DHASH_GRID = 8  # signature = DHASH_GRID x DHASH_GRID bits (64)


def _tiny_image(payloads: list) -> np.ndarray:
    """Decode + downsample each payload to a DHASH_GRID x (DHASH_GRID
    + 1) grayscale grid, ndarray (n, 8, 9). A real implementation is PIL
    decode + grayscale + resize — unavailable in this image, so this
    treats the payload as a RAW grayscale byte stream and block-averages
    it into the grid (zero-padded to at least one byte per cell). That
    IS the resize arithmetic a real pipeline runs after decode, so
    near-identical payloads (a few bytes changed) land within small
    Hamming distance — the property the planted-dup pytest pins."""
    g = DHASH_GRID
    n_cells = g * (g + 1)
    grids = np.empty((len(payloads), g, g + 1), dtype=np.float64)
    for i, p in enumerate(payloads):
        arr = np.frombuffer(p, dtype=np.uint8).astype(np.float64)
        if len(arr) < n_cells:
            arr = np.pad(arr, (0, n_cells - len(arr)))
        # block-average into g*(g+1) nearly-equal chunks — the
        # downsample step of a real dHash, over raw bytes
        grids[i] = np.array(
            [c.mean() for c in np.array_split(arr, n_cells)]
        ).reshape(g, g + 1)
    return grids


def dhash_payloads(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash signatures for media payloads — the
    cheap pre-embedding dedup tier (r7 VERDICT item 7): at 100 TB you
    dHash every image/frame for cents before any vision tower runs.

    Pipeline per ``(doc_id, payload)`` row: :func:`_tiny_image`
    (decode + downsample to an 8x9 grayscale grid) → horizontal
    gradient signs → 64-bit signature, returned as a signed BIGINT so
    the banded Hamming search (operators/dedup.py::banded_hamming_pairs
    — the SimHash pigeonhole scheme verbatim) runs on JVM bit ops.

    Arrow-batched mapInPandas; payload bytes never survive the stage.
    """
    g = DHASH_GRID

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids = _tiny_image(list(pdf["payload"]))
            # dHash: bit (r, c) = cell brighter than its right neighbor
            bits = (grids[:, :, :-1] > grids[:, :, 1:]).reshape(len(pdf), g * g)
            weights = (1 << np.arange(g * g, dtype=np.uint64))
            sigs = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.uint64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    # two's-complement view: BIGINT column, bit-identical
                    "dhash": sigs.view(np.int64),
                }
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select("doc_id", "payload").mapInPandas(
        run, schema=f"doc_id {id_type}, dhash long"
    )


BLOCKMEAN_CROPS = (1.0, 0.75)  # full frame + center crop


def _block_means(payloads: list, crop: float) -> np.ndarray:
    """The central ``crop`` fraction of each payload block-averaged into
    64 nearly-equal blocks, ndarray (n, 64). A real implementation is
    PIL decode + grayscale + center crop + 8x8 block means — unavailable
    in this image, so this treats the payload as a raw grayscale byte
    stream."""
    means = np.empty((len(payloads), 64), dtype=np.float64)
    for i, p in enumerate(payloads):
        arr = np.frombuffer(p, dtype=np.uint8).astype(np.float64)
        lo = int(len(arr) * (1.0 - crop) / 2.0)
        arr = arr[lo : lo + max(1, int(len(arr) * crop))]
        if len(arr) < 64:
            arr = np.pad(arr, (0, 64 - len(arr)))
        means[i] = [c.mean() for c in np.array_split(arr, 64)]
    return means


def blockmean_payloads(df: DataFrame, crop: float = 1.0) -> DataFrame:
    """Block-mean perceptual hash (Yang et al. 2006, block mean value
    based image perceptual hashing) at one crop scale — the second
    signature family of the perceptual tier (r8 VERDICT item 6).

    Per ``(doc_id, payload)`` row: take the CENTRAL ``crop`` fraction
    of the stream (:func:`_block_means`),
    block-average it into 64 nearly-equal blocks, bit b = block mean >
    median of the 64 means. The median threshold makes the signature
    invariant to global brightness/offset shifts (dHash's gradient
    signs are not), and the center crop makes it robust to BORDER
    edits — letterboxing, watermarks, frame-edge timestamps — which
    flip many full-frame bits but leave the cropped signature within
    verify distance (pinned by the planted letterbox-dup pytest).
    Same signed-BIGINT signature contract as dhash_payloads, so the
    banded Hamming search (operators/dedup.py::banded_hamming_pairs)
    is reused unchanged.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means = _block_means(list(pdf["payload"]), crop)
            bits = means > np.median(means, axis=1, keepdims=True)
            weights = (1 << np.arange(64, dtype=np.uint64))
            sigs = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.uint64)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "bmh": sigs.view(np.int64)}
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select("doc_id", "payload").mapInPandas(
        run, schema=f"doc_id {id_type}, bmh long"
    )


def blockmean_near_dups(df: DataFrame, hamming_max: int = 3) -> DataFrame:
    """Multi-scale block-mean near-dup pairs over ``(doc_id, payload)``
    rows: a pair is a candidate when it verifies within ``hamming_max``
    at ANY of the ``BLOCKMEAN_CROPS`` scales (the
    recall union — border-edited dups survive only the cropped scale,
    byte-identical dups all scales). Returns (id_a, id_b, hamming,
    n_scales) via :func:`multi_scale_hamming_pairs`."""
    scales = [blockmean_payloads(df, crop=c) for c in BLOCKMEAN_CROPS]
    return multi_scale_hamming_pairs(scales, "doc_id", "bmh", hamming_max)


def multi_scale_hamming_pairs(
    scales: list[DataFrame], id_col: str, sig_col: str, hamming_max: int, bits: int = 64
) -> DataFrame:
    """One banded Hamming search per signature scale
    (operators/dedup.py::banded_hamming_pairs), unioned to one row per
    pair carrying the MINIMUM hamming over scales and how many scales
    matched. Returns (id_a, id_b, hamming, n_scales)."""
    from functools import reduce

    from databeats_spark.operators.dedup import banded_hamming_pairs

    per_scale = [
        banded_hamming_pairs(s, id_col, sig_col, hamming_max, bits) for s in scales
    ]
    return (
        reduce(DataFrame.unionAll, per_scale)
        .groupBy("id_a", "id_b")
        .agg(
            F.min("hamming").alias("hamming"),
            F.count(F.lit(1)).cast("bigint").alias("n_scales"),
        )
    )


def perceptual_near_dups(df: DataFrame, hamming_max: int = 3) -> DataFrame:
    """dHash signatures + the SimHash pigeonhole banding over
    ``(doc_id, payload)`` rows: every payload pair within
    ``hamming_max`` signature bits is
    returned (recall guaranteed by the banding, exactness by the
    bit_count verify). Returns (id_a, id_b, hamming)."""
    from databeats_spark.operators.dedup import banded_hamming_pairs

    sigs = dhash_payloads(df)
    return banded_hamming_pairs(sigs, "doc_id", "dhash", hamming_max)


def frame_sample_plan(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame-sampling plumbing: expand each media row into
    ``n_frames`` (doc_id, frame_idx, frame_ts_frac) rows — pure Spark
    (posexplode over a literal sequence), the decode-per-frame then
    rides the same mapInPandas path as images."""
    fracs = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: (i + F.lit(0.5)) / F.lit(float(n_frames)),
    )
    return df.select("doc_id", F.posexplode(fracs).alias("frame_idx", "frame_ts_frac"))
