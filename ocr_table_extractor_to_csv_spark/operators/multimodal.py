"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The container has no image/audio codecs, so DECODING is stubbed (clearly
marked); everything Spark-side is real and tested: schemas, Arrow batch
shape, partitioning, and the mapInArrow plumbing a decode stage needs at
100 TB (bytes-proportional batches, per-row error capture).

Two deterministic "fake decoders" stand in for the codec call so the
pipeline is end-to-end testable:
  * ``media_features``: fixed-length feature vector = seeded bytes histogram
    (16 buckets, L1-normalized) — the shape of an embedding extractor;
  * ``frame_sample``: offsets of K evenly spaced "frames" + their byte
    slices — the shape of a video frame sampler.

Swapping the fake for Pillow/ffmpeg later touches ONLY the marked function
bodies; the Spark plumbing (schema, batching, error rows) is unchanged.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, n_bytes int, features array<double>, error string"
)
FRAME_SCHEMA = (
    "media_id long, n_frames int, frame_offsets array<int>, frame_sizes array<int>, error string"
)

N_FEATURE_BUCKETS = 16


def _decode_and_featurize(payload: bytes) -> List[float]:
    """STUB DECODER — deterministic byte histogram in place of a real codec.

    Real implementation would be:
        img = PIL.Image.open(io.BytesIO(payload)); ...
    and raise NotImplementedError on unsupported codecs.  The fake keeps the
    exact signature + failure contract (raises on empty payload).
    """
    if not payload:
        raise ValueError("empty media payload")
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=N_FEATURE_BUCKETS).astype(np.float64)
    total = hist.sum()
    return (hist / total).tolist()


def _sample_frames(payload: bytes, k: int) -> tuple[List[int], List[int]]:
    """STUB FRAME SAMPLER — evenly spaced byte offsets in place of ffmpeg."""
    if not payload:
        raise ValueError("empty media payload")
    n = len(payload)
    step = max(1, n // k)
    offsets = list(range(0, n, step))[:k]
    sizes = [min(step, n - o) for o in offsets]
    return offsets, sizes


def media_features(media: DataFrame, kind_col: str = "kind") -> DataFrame:
    """media(media_id, kind, payload BINARY) -> feature rows.

    One mapInArrow stage; a batch closes at Arrow maxRecordsPerBatch rows or
    maxBytesPerBatch bytes, whichever comes first (``session.DEFAULT_CONF``),
    so large payloads arrive in small batches just like giant html pages.
    """

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column("media_id").to_pylist()
            kinds = b.column(kind_col).to_pylist()
            payloads = b.column("payload").to_pylist()
            out_feat, out_nb, out_err = [], [], []
            for p in payloads:
                try:
                    out_feat.append(_decode_and_featurize(p or b""))
                    out_err.append(None)
                except Exception as exc:
                    out_feat.append(None)
                    out_err.append(f"{type(exc).__name__}: {exc}")
                out_nb.append(len(p or b""))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(kinds, pa.string()),
                    pa.array(out_nb, pa.int32()),
                    pa.array(out_feat, pa.list_(pa.float64())),
                    pa.array(out_err, pa.string()),
                ],
                names=["media_id", "kind", "n_bytes", "features", "error"],
            )

    return media.select("media_id", kind_col, "payload").mapInArrow(fn, MEDIA_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, src_w int, src_h int, dst_w int, dst_h int, "
    "pixels binary, error string"
)


def _decode_dims_and_resize(payload: bytes, dst_w: int, dst_h: int):
    """STUB RESIZER — deterministic byte-grid nearest-neighbor subsample in
    place of a real codec.  The fake treats the payload as a square
    row-major u8 "image" (side = floor(sqrt(n))), so output bytes are a
    pure function of the input; a real implementation decodes with
    Pillow/ffmpeg and resizes, keeping this exact signature + failure
    contract (raises on undecodable/empty payload)."""
    if not payload:
        raise ValueError("empty media payload")
    n = len(payload)
    side = int(n**0.5)
    if side < 1:
        raise ValueError("payload too small to decode")
    arr = np.frombuffer(payload[: side * side], dtype=np.uint8).reshape(side, side)
    ys = (np.arange(dst_h) * side) // dst_h
    xs = (np.arange(dst_w) * side) // dst_w
    return side, side, arr[np.ix_(ys, xs)].tobytes()


def resize_media(media: DataFrame, dst_w: int = 32, dst_h: int = 32) -> DataFrame:
    """media(media_id, payload BINARY) -> fixed-size "pixel" rows.

    The scale-relevant property being exercised: output batches are
    dst_w x dst_h per row REGARDLESS of input size, so a resize stage
    re-normalizes skewed byte-proportional partitions — downstream stages
    can safely repartition by count."""

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column("media_id").to_pylist()
            payloads = b.column("payload").to_pylist()
            sw, sh, px, errs = [], [], [], []
            for p in payloads:
                try:
                    w, h, out = _decode_dims_and_resize(p or b"", dst_w, dst_h)
                    sw.append(w)
                    sh.append(h)
                    px.append(out)
                    errs.append(None)
                except Exception as exc:
                    sw.append(None)
                    sh.append(None)
                    px.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(sw, pa.int32()),
                    pa.array(sh, pa.int32()),
                    pa.array([dst_w] * len(ids), pa.int32()),
                    pa.array([dst_h] * len(ids), pa.int32()),
                    pa.array(px, pa.binary()),
                    pa.array(errs, pa.string()),
                ],
                names=["media_id", "src_w", "src_h", "dst_w", "dst_h", "pixels", "error"],
            )

    return media.select("media_id", "payload").mapInArrow(fn, RESIZE_SCHEMA)


def frame_sample(media: DataFrame, k: int = 8) -> DataFrame:
    """media(media_id, payload BINARY) -> frame offset/size rows."""

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column("media_id").to_pylist()
            payloads = b.column("payload").to_pylist()
            offs, sizes, nf, errs = [], [], [], []
            for p in payloads:
                try:
                    o, s = _sample_frames(p or b"", k)
                    offs.append(o)
                    sizes.append(s)
                    nf.append(len(o))
                    errs.append(None)
                except Exception as exc:
                    offs.append(None)
                    sizes.append(None)
                    nf.append(0)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(nf, pa.int32()),
                    pa.array(offs, pa.list_(pa.int32())),
                    pa.array(sizes, pa.list_(pa.int32())),
                    pa.array(errs, pa.string()),
                ],
                names=["media_id", "n_frames", "frame_offsets", "frame_sizes", "error"],
            )

    return media.select("media_id", "payload").mapInArrow(fn, FRAME_SCHEMA)
