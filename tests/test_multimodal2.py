"""Semantic invariants for the acoustic fingerprint matcher."""

from __future__ import annotations

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.multimodal2 import FP_BITS, FP_TOP, N_SLICES
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _fingerprint(text: str) -> int:
    raw = [(b * 131) % 256 for b in text.encode()]
    n = len(raw)
    slices: list[list[int]] = [[] for _ in range(N_SLICES)]
    for p, v in enumerate(raw):
        slices[p * N_SLICES // n].append(v)
    slices = [s for s in slices if s]
    sig = 0
    for f in range(min(len(slices) - 1, FP_BITS)):
        a, b = slices[f], slices[f + 1]
        if sum(a) * len(b) > sum(b) * len(a):
            sig |= 1 << f
    return sig


def test_fingerprint_pairs_match_python_replay(spark, sf_dir):
    rows = REG["multimodal_audio_fingerprint"].fn(spark, sf_dir).collect()
    assert rows and len(rows) <= FP_TOP
    hams = [r.hamming for r in rows]
    assert hams == sorted(hams)
    docs = {
        r.doc_id: r.text
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    for r in rows[:10]:
        sa, sb = _fingerprint(docs[r.id_a]), _fingerprint(docs[r.id_b])
        assert bin(sa ^ sb).count("1") == r.hamming
        # candidates must share at least one signature byte (the band join)
        assert any(
            ((sa >> (8 * k)) & 255) == ((sb >> (8 * k)) & 255) for k in range(4)
        )


def test_identical_payloads_have_zero_hamming(spark, sf_dir):
    """Two docs with the same text must fingerprint identically."""
    t = "hello world " * 40
    assert _fingerprint(t) == _fingerprint(t)
    assert _fingerprint(t) != 0, "a real payload should produce a non-trivial signature"
