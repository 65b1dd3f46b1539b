"""Physical-plan inspection helpers (py4j walk over the executed plan).

Used by the unpartitioned-window lint (tests/test_window_lint.py) and the
dev survey (scripts/window_lint_survey.py): find Window nodes with an
empty partition spec and measure the actual input cardinality each one
consumed, from the executed plan's SQL metrics — including Window nodes
hidden inside cached (InMemoryTableScan) subtrees and AQE query stages.

Why runtime metrics instead of static plan text: the convention being
enforced is "a global-order window may only consume a sub-linear
(aggregated or limited) input", and boundedness is a property of the DATA
feeding the node, not of the operator tree — rec_item_cosine's round-6
defect (global row_number over a degree²-sized pair set) had aggregations
below it and would have passed any static contains-an-agg check.
"""

from __future__ import annotations

import re
from collections import deque

from pyspark import SparkContext

#: physical nodes that bound their output by construction
LIMIT_NODES = {"TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit"}

#: nodes that preserve row count (or are pure wrappers) — safe to descend
#: through when hunting for the nearest numOutputRows metric
_PASSTHROUGH = {
    "WholeStageCodegen",
    "InputAdapter",
    "Project",
    "Sort",
    "Exchange",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
    "ResultQueryStage",
    "AQEShuffleRead",
    "Window",
    "WindowGroupLimit",
    "ReusedExchange",
    "AdaptiveSparkPlan",
    "Coalesce",
}


def _children(n):
    ch = n.children()
    out = [ch.apply(i) for i in range(ch.size())]
    nn = n.nodeName()
    if nn == "AdaptiveSparkPlan":
        out.append(n.executedPlan())
    elif nn.endswith("QueryStage"):
        out.append(n.plan())
    elif nn == "InMemoryTableScan":
        out.append(n.relation().cachedPlan())
    elif nn == "ReusedExchange":
        out.append(n.child())
    return out


def walk_plan(root, descend=None):
    """Breadth-first over the executed plan from ``root``, descending into
    AQE stages, cached subtrees, and reused exchanges. Each JVM node is
    yielded once: nodes are told apart by JVM identity, not by the Python
    ``id()`` of their short-lived Py4J proxies (a freed proxy's id is
    reused), so a node reached along two paths, such as a cached subtree
    under every scan of it, is one node. ``descend(node)`` returning False
    yields that node without walking below it."""
    seen = SparkContext._jvm.java.util.IdentityHashMap()
    q = deque([root])
    while q:
        n = q.popleft()
        if seen.put(n, True):  # the previous value: None on a first visit
            continue
        yield n
        if descend is None or descend(n):
            q.extend(_children(n))


def _base(n) -> str:
    return n.nodeName().split(" (")[0].strip()


def _metric(n, key="numOutputRows"):
    it = n.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == key:
            return kv._2().value()
    return None


def window_input_rows(inp) -> tuple[str, int | None]:
    """Nearest-descendant input cardinality for a Window node's child.

    Returns (node, rows): descends through row-preserving wrappers to the
    first node carrying a numOutputRows metric. node == 'limit' means a
    limit node bounds the input on the way down (rows None, bounded by
    construction); node == 'unknown' means no metric was reachable.
    """
    # a non-passthrough node without the metric ends its branch:
    # descending further would measure a different row domain
    for n in walk_plan(inp, descend=lambda n: _base(n) in _PASSTHROUGH):
        base = _base(n)
        if base in LIMIT_NODES:
            return "limit", None
        r = _metric(n)
        if r is not None:
            return base, r
        if base == "Exchange":
            # the global-sort shuffle that feeds every empty-partition
            # Window records its EXACT producer cardinality in the write
            # metrics — read it here instead of descending past the
            # exchange, where AQE stage state has (once, r11 full-suite
            # ordering) left numOutputRows unreachable and the lint
            # reported ('unknown', None) on a provably 30-row input
            rw = _metric(n, "shuffleRecordsWritten")
            if rw is not None:
                return base, rw
    return "unknown", None


def global_window_inputs(df) -> list[tuple[str, int | None]]:
    """Execute-and-inspect: (nearest metric node, input rows) for every
    Window with an EMPTY partition spec in df's executed plan. Call after
    an action has run (e.g. df.collect()) so metrics are populated."""
    out = []
    for node in walk_plan(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() == "Window" and node.partitionSpec().size() == 0:
            out.append(window_input_rows(node.children().apply(0)))
    return out


#: frame spec whose upper bound is unboundedFollowing — capture the lower
#: bound to exempt the whole-partition (unboundedPreceding, unboundedFollowing)
#: frame, which Spark computes once per partition (O(n)); every other
#: lower bound makes an UnboundedFollowingWindowFunctionFrame that
#: RECOMPUTES the aggregate from scratch at each row — O(n²) per
#: partition, measured at 18 s / 160k rows in the round-9 triage. The fix
#: idiom is a running frame over the REVERSED ordering (plans/joins.py:273).
_UF_FRAME_RE = re.compile(
    r"specifiedwindowframe\((?:Row|Range)Frame, ([^,]+), unboundedfollowing\$\(\)\)"
)


def unbounded_following_agg_frames(df) -> list[str]:
    """Static plan check (no job runs): every window frame in df's physical
    plan — including frames inside cached subtrees and AQE stages — whose
    upper bound is unboundedFollowing with a lower bound other than
    unboundedPreceding. These are the O(n²)-per-partition suffix-aggregate
    frames banned by tests/test_frame_lint.py."""
    bad: list[str] = []
    for node in walk_plan(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() != "Window":
            continue
        for m in _UF_FRAME_RE.finditer(node.toString()):
            if m.group(1) != "unboundedpreceding$()":
                bad.append(m.group(0))
    return bad


#: nodes that redistribute (or bound) their output — a Generate above one
#: of these inherits the session's shuffle parallelism, not the scan's
#: byte-derived task count
_FANNED_NODES = {
    "Exchange",
    "ShuffleQueryStage",
    "AQEShuffleRead",
    "BroadcastExchange",
    "BroadcastQueryStage",
    "ReusedExchange",
    "FlatMapGroupsInPandas",  # grouped applyInPandas: keyed shuffle built in
    "FlatMapCoGroupsInPandas",
}

#: leaves whose cardinality is driver-chosen, not data-sized
_BOUNDED_LEAVES = {"Range", "LocalTableScan", "OneRowRelation", "EmptyRelation"}


#: literal slice length: slice(<anything>, <int>, <int>)
_BOUNDED_SLICE_RE = re.compile(r"^slice\(.*, -?\d+, \d+\)$")


def _bounded_generator(gen: str) -> bool:
    """True when a Generate's generator has STATICALLY bounded fan-out —
    constant amplification, not an explosive transform:
    - explode(array(...)): arity fixed by the expression grammar;
    - a constant-folded literal array (sequence of literals →
      UnsafeArrayData/GenericArrayData);
    - slice(..., lit, lit): amplification ≤ the literal length.
    Data-dependent-arity generators (split, sequence over columns, UDF/
    collected arrays, map columns) stay explosive."""
    if re.match(r"stack\(\d+,", gen):
        return True  # stack's fan-out IS its literal first argument
    if gen.startswith("json_tuple("):
        return True  # fixed arity: one row per field list
    inner = gen
    for head in ("explode_outer(", "posexplode_outer(", "explode(", "posexplode("):
        if gen.startswith(head):
            inner = gen[len(head):-1]
            break
    if inner.startswith("array("):
        return True
    if inner.startswith("[") and inner.endswith("]"):
        return True  # constant-folded literal array, e.g. explode([1,2,3])
    if "UnsafeArrayData" in inner or "GenericArrayData" in inner:
        return True
    return bool(_BOUNDED_SLICE_RE.match(inner))


def unfanned_generates(df) -> list[tuple[str, str]]:
    """Static plan check (no job runs): Generate (explode) nodes fed by a
    file scan through only narrow operators — i.e. no shuffle between the
    scan and the explode, so the explosive stage runs at the scan's
    byte-derived parallelism (round-9 discovery #1: one task for a small
    compressed file locally, a straggler per oversized file at 100 TB; fix
    is io.fan_out ahead of the explode). Returns (generate, scan) string
    pairs; cached subtrees and AQE stages are descended."""
    bad: list[tuple[str, str]] = []
    for node in walk_plan(df._jdf.queryExecution().executedPlan()):
        if _base(node) != "Generate":
            continue
        head = node.toString().splitlines()[0]
        # format: Generate <gen>[, [requiredChildOutput]], <outer>, [output]
        m = re.match(r"Generate (.*?)(?:, \[[^\]]*\])?, (?:false|true), \[", head)
        if m and _bounded_generator(m.group(1)):
            continue
        below = walk_plan(node, descend=lambda n: not _ends_narrow_path(_base(n)))
        next(below)  # the Generate itself
        for n in below:
            base = _base(n)
            # Scan ExistingRDD is driver-local rows, bounded
            if _is_scan(base) and base != "Scan ExistingRDD":
                sdesc = n.toString().splitlines()[0][:200]
                bad.append((head[:120], sdesc))
    return bad


def _is_scan(base: str) -> bool:
    return base.startswith("Scan") or base in ("FileSourceScan", "BatchScan")


def _ends_narrow_path(base: str) -> bool:
    """A branch below a Generate stops at a fanned or bounded node, or at
    the scan it reads."""
    return (
        base in _FANNED_NODES
        or base in LIMIT_NODES
        or base in _BOUNDED_LEAVES
        or _is_scan(base)
    )


def plan_has_global_window(df) -> bool:
    """Static pre-check (no execution): does the formatted physical plan
    contain a Window whose second Arguments bracket group is an order
    spec (ASC/DESC) — i.e. a global-order window?"""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    for m in re.finditer(
        r"\(\d+\) Window(?:[^\n]*\n)+?Arguments: ([^\n]*)", buf.getvalue()
    ):
        segs = m.group(1).split("], [")
        spec = segs[1] if len(segs) > 1 else ""
        if " ASC" in spec or " DESC" in spec:
            return True
    return False
