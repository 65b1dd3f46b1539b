"""Multimodal column operators (north star; SURVEY.md §1.4 binaryFile row).

Design: media rides in DataFrames as an opaque ``binary`` column plus a typed
metadata struct — the Spark-native version of the reference's on-disk .mp4
artifacts (transcribe_council.py:76-90). Real ingestion is
``spark.read.format("binaryFile")`` (path, modificationTime, length, content);
the synthetic harness derives binary content from `documents.text` so plans
are testable without media fixtures.

Decode / feature-extract / resize / frame-sample are Arrow-batched
mapInPandas operators. The image/audio codecs are NOT in this environment, so
the real decoders raise NotImplementedError behind the backend switch, and a
deterministic fake backend (pure function of the bytes) keeps the Spark-side
plumbing — schema, partitioning, batch shape — real and oracle-checkable.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FRAME_BYTES = 30  # fake: one 'frame' per 30 bytes

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("status", T.StringType()),
    ]
)


def to_media_column(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Synthesize a media row: binary content + typed metadata struct."""
    content = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.length(content).cast("long").alias("byte_len"),
        F.lit("text/fake-media").alias("mime"),
    )
    return df.select(F.col(id_col), content.alias("content"), meta.alias("media_meta"))


def decode_fake(content: bytes) -> dict:
    """Deterministic stand-in: metadata derived purely from the bytes, so the
    DuckDB oracle can recompute it from the source text."""
    return {
        "byte_len": len(content),
        "n_frames": max(1, math.ceil(len(content) / FRAME_BYTES)),
        "head_hex": content[:4].hex(),
        "status": "decoded",
    }


def decode_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode: one metadata row per media row; errors quarantined
    into `status` instead of failing the stage. Columnar kernel over the
    Arrow batch (decode_fake's fields, vectorized); per-row fallback only if
    a batch-level op raises, so a poison row degrades alone."""
    for pdf in batches:
        try:
            contents = pdf["content"]
            byte_len = contents.map(len).to_numpy(dtype=np.int64, na_value=0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "byte_len": byte_len,
                    "n_frames": np.maximum(1, -(-byte_len // FRAME_BYTES)),
                    "head_hex": contents.map(lambda c: c[:4].hex()),
                    "status": np.full(len(pdf), "decoded", dtype=object),
                }
            )
        except Exception:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    d = decode_fake(content)
                    rows.append(
                        (doc_id, d["byte_len"], d["n_frames"], d["head_hex"], d["status"])
                    )
                except Exception as exc:
                    rows.append((doc_id, None, None, None, f"error: {exc}"))
            yield pd.DataFrame(
                rows, columns=["doc_id", "byte_len", "n_frames", "head_hex", "status"]
            )


RESIZE_MAX_DIM = 256

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ]
)


def resize_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Image resize plumbing: source dims come from the (fake) decode —
    w = byte_len % 640 + 16, h = byte_len % 480 + 16 — and the op computes
    the aspect-preserving fit into RESIZE_MAX_DIM², integer math only (the
    same contract as a PIL thumbnail call; only the pixel kernel is the
    stubbed part). Columnar over the Arrow batch."""
    for pdf in batches:
        lens = pdf["content"].map(len).to_numpy(dtype=np.int64, na_value=0)
        src_w = lens % 640 + 16
        src_h = lens % 480 + 16
        long_side = np.maximum(src_w, src_h)
        scale_num = np.minimum(long_side, RESIZE_MAX_DIM)  # never upscale
        out_w = np.maximum(1, src_w * scale_num // long_side)
        out_h = np.maximum(1, src_h * scale_num // long_side)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "src_w": src_w,
                "src_h": src_h,
                "out_w": out_w,
                "out_h": out_h,
                "status": np.full(len(pdf), "resized", dtype=object),
            }
        )


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
        T.StructField("max_byte", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def features_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Feature extraction over the binary column: byte statistics computed
    with one numpy pass per value (frombuffer — zero-copy). Only EXACT
    integer stats leave Python (sums, max); derived floats (mean) are
    computed and rounded JVM-side so rounding rules stay in the one engine
    pair that is parity-tested. A real extractor would swap the kernel for
    an image/audio model embedding; the batch plumbing is identical.

    Null/absent content degrades per row to zero stats (the module's
    poison-row-degrades-alone contract, like decode_map) — a None must
    never fail the whole stage."""
    for pdf in batches:
        stats = [
            (
                len(b),
                int(np.frombuffer(b, np.uint8).sum()),
                int(np.frombuffer(b, np.uint8).max()) if len(b) else 0,
            )
            for b in (c or b"" for c in pdf["content"])
        ]
        lens = np.array([s[0] for s in stats], dtype=np.int64)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "byte_len": lens,
                "sum_bytes": np.array([s[1] for s in stats], dtype=np.int64),
                "max_byte": np.array([s[2] for s in stats], dtype=np.int64),
                "n_frames": np.maximum(1, -(-lens // FRAME_BYTES)),
            }
        )


def frame_sample(df: DataFrame, every_n: int, id_col: str = "doc_id") -> DataFrame:
    """Frame sampling: explode fake frame indices, keep every n-th. Pure
    column expressions — the explode/filter shape matches a real video
    frame-sampler; only the decode inside mapInPandas would differ."""
    n_frames = F.greatest(
        F.lit(1), F.ceil(F.length("content") / F.lit(FRAME_BYTES))
    ).cast("int")
    frames = F.sequence(F.lit(0), n_frames - 1)
    return (
        df.select(F.col(id_col), F.explode(frames).alias("frame_id"))
        .filter(F.col("frame_id") % every_n == 0)
    )


AHASH_BITS = 32  # signature width: 32 sample points spread over the media


def ahash_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Perceptual average-hash over the media bytes (the image-dedup
    signature: bit j = sampled byte j ≥ mean, computed on the decoded
    pixel grid in production and on the raw bytes under the fake backend
    so the oracle can recompute it from the source text). The 32 sample
    positions spread EVENLY over the whole payload — a prefix-only window
    measured catastrophic selectivity on structured text (documents share
    openings, so accidental hamming-≤4 matches made the sf1 output grow
    ~100× at 10× data; whole-payload sampling keeps bits independent and
    collisions rare). Vectorized per Arrow batch; emits (doc_id, ahash)."""
    weights = np.left_shift(np.int64(1), np.arange(AHASH_BITS, dtype=np.int64))
    idx_base = np.arange(AHASH_BITS, dtype=np.int64)
    for pdf in batches:
        hashes = np.empty(len(pdf), dtype=np.int64)
        for i, c in enumerate(pdf["content"]):
            raw = np.frombuffer(bytes(c), dtype=np.uint8)
            pos = (idx_base * len(raw)) // AHASH_BITS
            # pseudo-pixel scramble: raw ASCII bytes are low-entropy (letters
            # cluster, spaces sit far below the mean), which correlates bits
            # ACROSS documents and floods the hamming fence with accidental
            # matches (measured: ~4e-4 pair rate). Real pixels are
            # high-entropy; the fake decode emulates that with a
            # multiplicative scramble mod 256 — deterministic and
            # SQL-replayable, bits near-independent.
            b = (raw[pos].astype(np.int64) * 131) % 256
            # scaled comparison (n·x ≥ Σx) keeps the threshold integral —
            # no division, no rounding-rule hazard
            bits = (AHASH_BITS * b >= b.sum()).astype(np.int64)
            hashes[i] = int((bits * weights).sum())
        yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "ahash": hashes})


VAD_FRAME = 30        # bytes per analysis frame (FRAME_BYTES twin)
VAD_THRESHOLD = 130   # mean scrambled-byte energy that counts as "voiced"


def frame_energy_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-frame energy extraction for VAD: split the media payload into
    {VAD_FRAME}-byte frames and emit each frame's scrambled-byte energy sum
    (the fake-backend stand-in for short-time RMS energy on real audio;
    the ×131 mod 256 scramble gives the low-entropy ASCII payload the
    dynamics real audio has). Emits (doc_id, frame_id, energy, flen)."""
    for pdf in batches:
        ids, fids, es, fls = [], [], [], []
        for doc_id, c in zip(pdf["doc_id"], pdf["content"]):
            raw = (np.frombuffer(bytes(c), dtype=np.uint8).astype(np.int64)
                   * 131) % 256
            n = len(raw)
            for f in range(max(1, -(-n // VAD_FRAME))):
                fr = raw[f * VAD_FRAME:(f + 1) * VAD_FRAME]
                ids.append(doc_id)
                fids.append(f)
                es.append(int(fr.sum()))
                fls.append(len(fr))
        yield pd.DataFrame(
            {"doc_id": ids, "frame_id": fids, "energy": es, "flen": fls}
        )


N_SLICES = 33  # acoustic-fingerprint slices → 32 transitions


def slice_energy_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-SLICE energy extraction for acoustic fingerprinting: split each
    payload into {N_SLICES} EQUAL slices spanning the WHOLE clip (position p
    → slice p·33 // n) and emit per-slice scrambled-byte energy sums. Evenly
    spanning matters: fixed-width frames left every doc shorter than
    33·VAD_FRAME bytes with zero high signature bits, which collapsed an
    entire corpus into one LSH band bucket (the phash prefix lesson,
    SCALE.md round 5, replayed in the energy domain — measured 2.75e9
    candidate pairs at sf1 before this kernel). Emits
    (doc_id, slice_id, energy, slen); empty slices (payloads < 33 bytes)
    are omitted, matching the oracle's GROUP BY over existing positions."""
    for pdf in batches:
        ids, sids, es, sls = [], [], [], []
        for doc_id, c in zip(pdf["doc_id"], pdf["content"]):
            raw = (np.frombuffer(bytes(c), dtype=np.uint8).astype(np.int64)
                   * 131) % 256
            n = len(raw)
            if n == 0:
                continue
            idx = (np.arange(n, dtype=np.int64) * N_SLICES) // n
            e = np.bincount(idx, weights=raw, minlength=N_SLICES).astype(np.int64)
            cnt = np.bincount(idx, minlength=N_SLICES).astype(np.int64)
            nz = np.nonzero(cnt)[0]
            ids.extend([doc_id] * len(nz))
            sids.extend(nz.tolist())
            es.extend(e[nz].tolist())
            sls.extend(cnt[nz].tolist())
        yield pd.DataFrame(
            {"doc_id": ids, "slice_id": sids, "energy": es, "slen": sls}
        )
