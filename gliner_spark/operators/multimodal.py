"""Multimodal column plumbing: opaque binary media + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as ``binary``
columns with typed metadata, processed by Arrow-batched Python stages.

- ``attach_media``: deterministic synthetic media bytes derived from
  the text column. IMAGE rows carry a REAL image format — binary PPM
  (P6): "P6\\n{w} {h}\\n255\\n" header + w*h*3 pixel bytes (the text's
  ASCII bytes cycled) — constructed with pure Catalyst string ops, so
  every downstream stat has an exact SQL oracle. audio/video stay
  opaque tagged payloads (no compact real format exists for them that
  plain SQL could mirror).
- ``media_metadata``: pure-Catalyst metadata projection (no Python).
- ``extract_features``: ``mapInArrow`` stage with a REAL pure-numpy
  PPM decoder for images (header parse incl. comments, pixel plane
  split) emitting integer moment features (dims, per-channel sums,
  sum-of-squares — integers, so the DuckDB oracle matches bit-for-bit);
  audio/video emit raw byte moments. No media wheels required.
- ``sample_frames``: frame-sampling plumbing for video-like payloads:
  slices the blob into fixed-size "frames", keeps every n-th — shows the
  explode/row-count-amplification pattern without a codec.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import _arrow_rows, drop_zip_importers, ensure_parallelism

MEDIA_KINDS = ["image", "audio", "video"]

PPM_W = 8
PPM_H = 8
PPM_HEADER = f"P6\n{PPM_W} {PPM_H}\n255\n"
PPM_PIXEL_BYTES = PPM_W * PPM_H * 3


def attach_media(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, kind, media): synthesize a deterministic binary payload
    per doc — a real 8×8 P6 PPM for image rows (pixels = the text's
    ASCII bytes cycled to 192), tagged text bytes for audio/video.
    Pure Catalyst, and SQL-expressible so downstream metadata/features
    are oracle-checkable."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.pmod(F.col(id_col).cast("long"), F.lit(3)) + 1).cast("int"),
    )
    base = F.coalesce(F.nullif(F.col(text_col), F.lit("")), F.lit(" "))
    reps = F.ceil(F.lit(float(PPM_PIXEL_BYTES)) / F.length(base)).cast("int")
    pixels = F.substring(F.repeat(base, reps), 1, PPM_PIXEL_BYTES)
    payload = F.when(
        kind == "image", F.concat(F.lit(PPM_HEADER), pixels)
    ).otherwise(F.concat(F.col(text_col), F.lit("|"), kind))
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        kind.alias("kind"),
        F.encode(payload, "utf-8").alias("media"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """(doc_id, kind, n_bytes, sha) — pure Catalyst projection."""
    return media.select(
        "doc_id",
        "kind",
        F.octet_length("media").cast("long").alias("n_bytes"),
        F.sha2(F.col("media"), 256).alias("sha"),
    )


def decode_ppm(blob: bytes) -> tuple[int, int, np.ndarray]:
    """Pure-numpy binary-PPM (P6) decoder: header = magic, width,
    height, maxval as whitespace-separated tokens with ``#`` comments,
    then ONE whitespace byte, then width*height*3 raw pixel bytes.
    Returns (width, height, pixels) with pixels shaped (h, w, 3).
    Raises ValueError on malformed input — a decoder that guesses is
    worse than one that fails loudly."""
    if blob[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos = 2
    fields: list[int] = []
    n = len(blob)
    while len(fields) < 3:
        while pos < n and blob[pos : pos + 1].isspace():
            pos += 1
        if pos < n and blob[pos : pos + 1] == b"#":
            while pos < n and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not blob[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(int(blob[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    need = w * h * 3
    px = np.frombuffer(blob, dtype=np.uint8, count=need, offset=pos)
    if px.size != need:
        raise ValueError("truncated PPM pixel data")
    return w, h, px.reshape(h, w, 3)


MOMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("g_sum", T.LongType()),
        T.StructField("b_sum", T.LongType()),
        T.StructField("val_n", T.LongType()),
        T.StructField("val_sum", T.LongType()),
        T.StructField("val_sumsq", T.LongType()),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL feature extraction: images go through the
    PPM decoder (dims + per-channel sums over the decoded pixel planes
    — the header bytes must be correctly stripped for these to match
    the oracle, which is the proof of real decoding); audio/video get
    raw byte moments. All-integer output ⇒ bit-exact SQL oracle."""

    def run(batches):
        drop_zip_importers()
        for batch in batches:
            rows = []
            for doc_id, kind, blob in zip(
                *(batch.column(c).to_pylist()
                  for c in ("doc_id", "kind", "media"))
            ):
                b = blob if blob is not None else b""
                if kind == "image":
                    w, h, px = decode_ppm(b)
                    p = px.astype(np.int64)
                    ch = p.reshape(-1, 3).sum(axis=0)
                    rows.append(
                        (doc_id, kind, w, h,
                         int(ch[0]), int(ch[1]), int(ch[2]),
                         p.size, int(p.sum()), int((p * p).sum()))
                    )
                else:
                    # width/height/channel sums are 0 for non-image
                    # kinds ("not applicable"; a real image always has
                    # positive dims and ASCII-pixel sums) — explicit
                    # zeros keep every column pure int64 and keep NULL
                    # semantics out of the oracle hash comparison
                    a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                    rows.append(
                        (doc_id, kind, 0, 0, 0, 0, 0,
                         a.size, int(a.sum()), int((a * a).sum()))
                    )
            yield _arrow_rows(rows, MOMENTS_SCHEMA)

    return ensure_parallelism(media).mapInArrow(run, MOMENTS_SCHEMA)


def sample_frames(media: DataFrame, frame_bytes: int = 32,
                  every_nth: int = 4) -> DataFrame:
    """(doc_id, frame_idx, frame): fixed-size blob slices, every n-th
    kept — the row-amplification shape of video frame sampling, done
    with pure Catalyst array ops (no Python)."""
    n = F.octet_length("media")
    n_frames = F.ceil(n / F.lit(frame_bytes)).cast("int")
    idxs = F.filter(
        F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
        lambda i: i % every_nth == 0,
    )
    return (
        media.where(F.col("kind") == "video")
        .select(
            "doc_id",
            F.explode(idxs).alias("frame_idx"),
            F.col("media"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.substring(
                F.col("media"), F.col("frame_idx") * frame_bytes + 1, frame_bytes
            ).alias("frame"),
        )
    )
