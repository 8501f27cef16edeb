"""Property-based invariants for the round-12 operators: randomized parity
with brute-force Python references (the test_properties_round4.py model)."""

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)


# --- k-core: parity with a Python peeling reference over random graphs


@settings(**SETTINGS)
@given(
    st.sets(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 3),
)
def test_k_core_random_graph_parity(spark, raw, k):
    from lakehouse_architecture_spark.operators.graph import k_core

    edges = {(a, b) for a, b in raw if a != b}
    if not edges:
        return

    # brute-force peel
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    expect = {n: len(nb) for n, nb in adj.items()}

    df = spark.createDataFrame(list(edges), "id_a long, id_b long")
    got = {r.node: r.degree for r in k_core(df, k=k, max_rounds=32).collect()}
    assert got == expect


# --- Spearman: parity with a midrank + Pearson Python reference


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(-20, 20), st.integers(-20, 20)),
        min_size=3,
        max_size=25,
    )
)
def test_spearman_random_parity(spark, pts):
    from lakehouse_architecture_spark.operators.profiling import spearman_corr

    xs = [float(a) for a, _ in pts]
    ys = [float(b) for _, b in pts]

    def midranks(vs):
        order = sorted(vs)
        return [
            (order.index(v) + 1) + (order.count(v) - 1) / 2 for v in vs
        ]

    rx, ry = midranks(xs), midranks(ys)
    n = len(pts)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    expect = round((n * sxy - sx * sy) / den, 6) if den > 0 else None

    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    got = spearman_corr(df, "x", "y").collect()[0]
    assert got.n == n
    if expect is None:
        assert got.rho is None
    else:
        assert got.rho == _approx(expect)


def _approx(v, tol=1e-9):
    import pytest

    return pytest.approx(v, abs=tol)


# --- WoE/IV: parity with a direct Python computation


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 1)),
        min_size=4,
        max_size=60,
    )
)
def test_woe_iv_random_parity(spark, rows):
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.features import woe_iv

    tg = sum(1 for _, bad in rows if bad == 0)
    tb = sum(1 for _, bad in rows if bad == 1)
    if tg == 0 or tb == 0:
        return  # degenerate totals divide by zero in the reference too
    cells = {}
    for c, bad in rows:
        g, b = cells.get(c, (0, 0))
        cells[c] = (g + (bad == 0), b + (bad == 1))
    expect = {}
    iv = 0.0
    for c, (g, b) in cells.items():
        dg = max(g / tg, 1e-4)
        db = max(b / tb, 1e-4)
        woe = round(math.log(dg / db), 9)
        expect[c] = woe
        iv += round((dg - db) * woe, 9)

    df = spark.createDataFrame(rows, "c string, bad int")
    got = {r.category: r for r in woe_iv(df, "c", F.col("bad") == 1).collect()}
    for c, woe in expect.items():
        assert got[c].woe == _approx(woe)
    assert got["(total)"].iv_term == _approx(round(iv, 6), tol=1e-6)


# --- transition entropy: parity with a direct computation over random streams


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.sampled_from(["x", "y", "z"])),
        min_size=4,
        max_size=60,
    )
)
# 6-dp ties: the 9-dp terms sum to exactly ...5 in the 7th decimal. A
# float sum lands above the tie on the first stream (0.6490225000000001)
# and below it on the second, which the float reference rounded down
@example([(1, "y"), (2, "z"), (2, "y"), (3, "z"), (2, "z"), (1, "y"), (1, "y"), (1, "y")])
@example([(3, "z"), (3, "z"), (2, "y"), (2, "y"), (3, "y"), (2, "x"), (3, "x")])
def test_transition_entropy_random_parity(spark, rows):
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import Row

    from lakehouse_architecture_spark.operators.profiling import (
        transition_entropy,
    )

    d0 = datetime.datetime(2024, 1, 1)
    data = [
        Row(
            user_id=u,
            ts=d0 + datetime.timedelta(seconds=i),
            event_type=t,
            event_id=i,
        )
        for i, (u, t) in enumerate(rows)
    ]
    # brute force: per-user consecutive pairs in (ts, event_id) order —
    # enumeration order here IS that order
    steps = {}
    last = {}
    for i, (u, t) in enumerate(rows):
        if u in last:
            steps[(last[u], t)] = steps.get((last[u], t), 0) + 1
        last[u] = t
    if not steps:
        return
    n_total = sum(steps.values())
    ni = {}
    for (p, _), c in steps.items():
        ni[p] = ni.get(p, 0) + c
    # the operator's arithmetic: each term rounded half-up to 9 dp, an
    # exact decimal sum, then half-up to 6 dp (Spark's round())
    def half_up(x, dp):
        return Decimal(str(x)).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP)

    h = -sum(
        half_up((c / n_total) * math.log2(c / ni[p]), 9)
        for (p, _), c in steps.items()
    )
    # ADVICE r12: states = union of prev AND nxt (terminal types count)
    n_states = len({p for (p, _) in steps} | {t for (_, t) in steps})

    got = transition_entropy(
        spark.createDataFrame(data), "user_id", "ts", "event_type", "event_id"
    ).collect()[0]
    assert got.n_transitions == n_total
    assert got.n_states == n_states
    assert got.cond_entropy_bits == _approx(float(half_up(h, 6)), tol=1e-6)


# --- snapshot diff audit: parity with a dict-based reference


@settings(**SETTINGS)
@given(
    st.dictionaries(st.integers(0, 30), st.integers(0, 5) | st.none(), max_size=25),
    st.dictionaries(st.integers(0, 30), st.integers(0, 5) | st.none(), max_size=25),
)
def test_diff_audit_random_parity(spark, old, new):
    from lakehouse_architecture_spark.operators.integrity import (
        snapshot_diff_audit,
    )

    if not old and not new:
        return
    counts = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0}
    col_changed = 0
    for k in set(old) | set(new):
        if k not in old:
            counts["added"] += 1
        elif k not in new:
            counts["removed"] += 1
        elif old[k] != new[k]:
            counts["changed"] += 1
            col_changed += 1
        else:
            counts["unchanged"] += 1

    def frame(d):
        return spark.createDataFrame(
            [(k, v) for k, v in d.items()] or [(None, None)], "k int, v int"
        ).filter("k IS NOT NULL")

    out = {
        (r.kind, r.name): r.n
        for r in snapshot_diff_audit(frame(old), frame(new), ["k"], ["v"]).collect()
    }
    for s, n in counts.items():
        assert out[("status", s)] == n, s
    assert out[("column", "v")] == col_changed
