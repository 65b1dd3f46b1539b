"""Invariants for breadth batch 17 (streaming e2e, pass@k, CIDR)."""

from __future__ import annotations

from math import comb

from nocouncil_etl_spark.plans.breadth17 import PASS_N, PASS_SCALE
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_streaming_e2e_matches_batch_composition(spark, sf_dir):
    out = REG["pipeline_streaming_e2e"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows
    teams = {r.team for r in rows}
    assert teams <= {"revenue", "growth", "platform"}
    # total event mass equals the deduped enriched batch count
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert sum(r.n for r in rows) == ev.dropDuplicates(["event_id"]).count()
    for r in rows:
        assert r.w_start_us % 600_000_000 == 0


def test_pass_at_k_matches_math_comb(spark, sf_dir):
    rows = REG["eval_pass_at_k"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.c <= PASS_N
        for k, got in ((1, r.pass1_1e6), (5, r.pass5_1e6)):
            expect = PASS_SCALE - (PASS_SCALE * comb(PASS_N - r.c, k)) // comb(
                PASS_N, k
            )
            assert got == expect
        # pass@5 dominates pass@1 (more attempts can only help)
        assert r.pass5_1e6 >= r.pass1_1e6


def test_cidr_classification_consistent_with_dotted(spark, sf_dir):
    rows = REG["fn_ip_cidr_contains"].fn(spark, sf_dir).limit(500).collect()
    assert rows
    seen = set()
    for r in rows:
        seen.add(r.net_class)
        octets = [int(x) for x in r.dotted.split(".")]
        assert all(0 <= o <= 255 for o in octets)
        ip = (octets[0] << 24) + (octets[1] << 16) + (octets[2] << 8) + octets[3]
        assert ip == r.ip
        if octets[0] == 10:
            assert r.net_class == "internal"
        elif octets[0] == 192 and octets[1] == 168:
            assert r.net_class == "lab"
        elif octets[:3] == [203, 0, 113]:
            assert r.net_class == "bots"
        else:
            assert r.net_class == "public"
    assert "public" in seen
