"""Multimodal column plumbing (SURVEY.md §2.13): image/audio/video as opaque
``binary`` columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

The Spark-side architecture is the real deliverable — schema, partitioning,
UDF signature, batch shape:

- media travels as ``binary`` + a metadata struct, never decoded in the JVM;
- per-batch Python work happens in ``mapInPandas`` (one Arrow batch in, one
  out — constant memory per task, no per-row pickling);
- the decode+featurize kernel is a stand-in (no image/audio library is a
  dependency): ``fake_feature_extract`` is the deterministic kernel the
  tests pin. Swapping in Pillow/torchaudio later changes ONE function, not
  the plan.

At 100 TB: binary payloads dominate I/O — store them in their own parquet
column (parquet keeps column pages separate, so metadata-only queries never
read the bytes), partition by acquisition date, and size
``spark.sql.files.maxPartitionBytes`` so one task's Arrow batch of payloads
fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BINARY_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("header_hex", T.StringType()),
        T.StructField("checksum", T.LongType()),
    ]
)


def fake_feature_extract(payload: bytes) -> tuple[int, str, int]:
    """Deterministic stand-in for a decode+featurize kernel: byte length,
    first-4-bytes hex, and a bytewise checksum."""
    return len(payload), payload[:4].hex().upper(), sum(payload) % 1_000_000_007


def binary_metadata(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """mapInPandas metadata extraction over a binary column. The kernel sees
    Arrow record batches (pandas DataFrames) — the shape any real decoder
    plugs into."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_feature_extract(b) for b in pdf[bin_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [f[0] for f in feats],
                    "header_hex": [f[1] for f in feats],
                    "checksum": [f[2] for f in feats],
                }
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(bin_col).alias(bin_col)
    ).mapInPandas(kernel, schema=BINARY_META_SCHEMA)


def with_binary_payload(df: DataFrame) -> DataFrame:
    """Test/demo helper: manufacture a binary payload column from the
    ``text`` column (the testdata ships no true media bytes); real pipelines
    read binary columns straight from parquet."""
    return df.withColumn("payload", F.encode(F.col("text"), "utf-8"))


try:  # pragma: no cover - optional dependency, not in this container
    from PIL import Image  # type: ignore  # noqa: F401

    HAVE_PIL = True
except Exception:  # pragma: no cover
    HAVE_PIL = False


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for decode→resize→re-encode: tile/truncate the
    payload to exactly width*height bytes (a 1-channel 'image'). Replace with
    a PIL kernel when available — same signature, same plan."""
    need = width * height
    reps = -(-need // max(len(payload), 1)) if payload else 0
    return (payload * reps)[:need] if payload else b"\x00" * need


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame, id_col: str, bin_col: str, width: int = 32, height: int = 32
) -> DataFrame:
    """1→1 media kernel shape: binary in, fixed-size binary out, Arrow-batched.
    The stub kernel is deterministic (tests pin output sizes + bytes); a real
    decoder swaps in behind ``HAVE_PIL`` without touching the plan."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": width,
                    "height": height,
                    "resized": [_fake_resize(b, width, height) for b in pdf[bin_col]],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(kernel, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    frame_bytes: int = 256,
    every_n: int = 4,
) -> DataFrame:
    """1→N media kernel shape (video frame sampling): each payload splits
    into fixed-size 'frames' and every ``every_n``-th is emitted with its
    index — ``mapInPandas`` output is not row-aligned with input, which is
    exactly what real frame extraction needs (and what a pandas_udf can't
    express). The fake 'codec' is byte-chunking; a real one is pyav/ffmpeg."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col].astype("int64"), pdf[bin_col]):
                n_frames = max(len(payload), 1) // frame_bytes + (
                    1 if max(len(payload), 1) % frame_bytes else 0
                )
                for i in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(payload[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, bin_col).mapInPandas(kernel, schema=FRAMES_SCHEMA)


def arrow_binary_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """``mapInArrow`` metadata extraction — the Arrow-NATIVE sibling of
    ``binary_metadata``: the kernel receives raw ``pyarrow.RecordBatch``es
    with no pandas conversion on either side. For binary-heavy columns
    that conversion is real cost (pandas boxes each value as a Python
    bytes object; Arrow keeps one contiguous buffer), so this is the form
    a high-volume media pipeline wants. Byte length is computed by the
    vectorized Arrow kernel; the 4-byte header hex (a magic-number sniff)
    is a per-row loop over buffer slices — the mixed pattern real
    decoders follow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            payload = batch.column(batch.schema.get_field_index(bin_col))
            n_bytes = pc.binary_length(payload).cast(pa.int32())
            headers = [
                (v.as_py()[:4].hex() if v.is_valid else None) for v in payload
            ]
            yield pa.RecordBatch.from_arrays(
                [ids.cast(pa.int64()), n_bytes, pa.array(headers, pa.string())],
                names=["doc_id", "n_bytes", "header_hex"],
            )

    return df.mapInArrow(kernel, "doc_id bigint, n_bytes int, header_hex string")


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ph_hi", T.LongType()),
        T.StructField("ph_lo", T.LongType()),
    ]
)


def dhash_code(payload: bytes) -> tuple[int, int]:
    """Difference-hash (dHash) over the deterministic fake decode: tile the
    payload to an 8×9 'grayscale' grid (``_fake_resize(9, 8)`` — the same
    stand-in kernel the resize path pins) and emit one bit per adjacent
    horizontal pair (left < right), MSB-first. Returned as two unsigned
    32-bit halves so the value survives BOTH engines' signed-int64 types
    without wraparound disagreements. Swapping in a real decoder changes
    only the grid source, exactly like resize_images."""
    px = _fake_resize(payload, 9, 8)
    h = 0
    for r in range(8):
        for c in range(8):
            h = (h << 1) | (1 if px[r * 9 + c] < px[r * 9 + c + 1] else 0)
    return h >> 32, h & 0xFFFFFFFF


def phash_codes(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """mapInPandas perceptual-hash extraction over a binary column — the
    image-dedup front end: one Arrow batch of payloads in, one 64-bit
    dHash (as two uint32 halves) per image out."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes = [dhash_code(b) for b in pdf[bin_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "ph_hi": [c[0] for c in codes],
                    "ph_lo": [c[1] for c in codes],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(kernel, PHASH_SCHEMA)
