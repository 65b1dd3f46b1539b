"""Scale-safety tests for the capped item-item CF kernel
(plans/breadth30.item_cosine_topk, the rec_item_cosine query).

Round-6 verdict findings addressed here:
- the per-user rating cap must be IMPLEMENTED, not docstring-promised:
  a heavy customer's pair fan-out is bounded by cap², and the capped
  result matches a pandas brute force that applies the identical cap;
- the global top-k must be TakeOrderedAndProject with rank computed on
  the k survivors — no single-partition WindowExec over the unbounded
  candidate-pair set.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import math
import re

import pandas as pd

from nocouncil_etl_spark.plans.breadth30 import item_cosine_topk
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _brute_force(rows, cap, min_common, k):
    """Pandas oracle: identical cap → pairs → cosine → top-k pipeline."""
    df = pd.DataFrame(rows, columns=["cid", "pid", "r"])
    df = df.sort_values(["cid", "r", "pid"], ascending=[True, False, True])
    df = df.groupby("cid").head(cap)
    n2 = df.groupby("pid")["r"].apply(lambda s: int((s * s).sum())).to_dict()
    pairs: dict[tuple[int, int], list[int]] = {}
    for _, grp in df.groupby("cid"):
        items = sorted(zip(grp["pid"], grp["r"]))
        for (p1, r1), (p2, r2) in itertools.combinations(items, 2):
            acc = pairs.setdefault((p1, p2), [0, 0])
            acc[0] += int(r1) * int(r2)
            acc[1] += 1
    out = [
        (p1, p2, num, nc, round(num / math.sqrt(n2[p1] * n2[p2]), 6))
        for (p1, p2), (num, nc) in pairs.items()
        if nc >= min_common
    ]
    out.sort(key=lambda t: (-t[4], t[0], t[1]))
    return [t + (i + 1,) for i, t in enumerate(out[:k])]


def _ratings_df(spark, rows):
    return spark.createDataFrame(rows, "cid long, pid long, r long")


def test_rank_on_survivors_plan(spark, sf_dir):
    """Every global-order Window in the plan sits DIRECTLY above
    TakeOrderedAndProject — rank is computed on the k survivors, never on
    the unbounded scored-pair set. The cap window is partitioned (by cid)
    and so allowed."""
    plan = _formatted(REG["rec_item_cosine"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # tree section: "+- Window (N)" must be the parent of TakeOrderedAndProject
    m = re.search(r"Window \((\d+)\)\n\s*\+- TakeOrderedAndProject", plan)
    assert m, f"Window is not fed by TakeOrderedAndProject:\n{plan[:2000]}"
    survivors_window = int(m.group(1))
    # every OTHER Window node must be partitioned (its Arguments line has a
    # partition spec bracket group, i.e. >1 top-level "], [" segment)
    for wm in re.finditer(r"\((\d+)\) Window\n(?:[^\n]*\n)*?Arguments: ([^\n]*)", plan):
        if int(wm.group(1)) == survivors_window:
            continue
        segs = wm.group(2).split("], [")
        part_spec = segs[1] if len(segs) > 1 else ""
        # the detector from tests/test_quantile_grid.py: for a GLOBAL
        # window the second bracket group is the order spec (ASC/DESC)
        assert " ASC" not in part_spec and " DESC" not in part_spec, (
            f"unpartitioned Window ({wm.group(1)}) over non-limited input:\n"
            + wm.group(2)
        )


def test_cap_binds_on_heavy_user(spark):
    """A single 60-item customer exceeds the cap: the kernel keeps only
    its top-cap ratings, and the result matches the pandas brute force
    with the identical cap (and differs from the uncapped one)."""
    rows = [(1, p, 100 - p) for p in range(60)]  # heavy: 60 items, cap 8
    rows += [(2, p, 10) for p in (0, 1, 2, 3)]
    rows += [(3, p, 7) for p in (2, 3, 4, 50)]
    got = [
        tuple(r)
        for r in item_cosine_topk(
            _ratings_df(spark, rows), cap=8, min_common=2, k=10
        ).collect()
    ]
    want = _brute_force(rows, cap=8, min_common=2, k=10)
    assert got == want
    uncapped = _brute_force(rows, cap=10_000, min_common=2, k=10)
    assert want != uncapped, "cap did not bind — test corpus too small"


def test_pair_volume_bounded_by_cap(spark):
    """Pre-aggregation pair fan-out from one customer is ≤ cap·(cap−1)/2:
    with cap=5 a 40-item customer contributes at most 10 surviving pairs
    (every pair it can emit shares that one customer, n_common=1 < 2 for
    all others) — observable as: no pair involving its low-rated items."""
    cap = 5
    rows = [(7, p, 1000 - p) for p in range(40)]
    rows += [(8, p, 50) for p in range(cap)]  # co-rater for the top items
    out = item_cosine_topk(
        _ratings_df(spark, rows), cap=cap, min_common=2, k=100
    ).collect()
    kept_pids = {p for r in out for p in (r.pid1, r.pid2)}
    # only customer 7's top-5 (pids 0..4, highest r) can survive the cap
    assert kept_pids <= set(range(cap))
    assert len(out) == cap * (cap - 1) // 2


def test_deterministic_tiebreak(spark):
    """Equal cosines rank by (pid1, pid2) — rerun yields identical rows."""
    rows = [(c, p, 5) for c in (1, 2) for p in (10, 11, 12)]
    df = _ratings_df(spark, rows)
    a = [tuple(r) for r in item_cosine_topk(df, cap=10, min_common=2, k=5).collect()]
    b = [tuple(r) for r in item_cosine_topk(df, cap=10, min_common=2, k=5).collect()]
    assert a == b
    assert [r[5] for r in a] == list(range(1, len(a) + 1))
