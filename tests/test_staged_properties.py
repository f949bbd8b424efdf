"""Property-based tests for the r13/r14 cohorts against
INDEPENDENT Python references (the test_properties.py discipline:
hashlib + plain Python / fractions, small example counts because each
example runs real Spark jobs — the value is the second
implementation, not example volume)."""

from __future__ import annotations

import hashlib
import math
from datetime import datetime, timedelta
from fractions import Fraction

from hypothesis import given, settings, strategies as st

_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_T0 = datetime(2024, 1, 1)


# ----- X174 seasonality chi2 vs an exact Fraction reference -------------------


@given(
    st.lists(st.integers(min_value=0, max_value=23), min_size=1, max_size=60)
)
@settings(max_examples=8, deadline=None)
def test_seasonality_chi2_matches_fraction_reference(spark, hours):
    from poet_cloud_cost_etl_spark.operators.behavior import (
        seasonality_chi2,
    )

    rows = [
        (i, _T0 + timedelta(hours=int(h), seconds=i), 1, "t", 0.0, "")
        for i, h in enumerate(hours)
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    got = seasonality_chi2(df, "event_type", "ts").collect()[0]

    n = len(hours)
    counts = {}
    for h in hours:
        counts[h] = counts.get(h, 0) + 1
    e = Fraction(n, 24)
    chi2 = sum(
        (Fraction(counts.get(h, 0)) - e) ** 2 / e for h in range(24)
    )
    assert got.chi2_uniform_e6 == (1_000_000 * chi2.numerator) // (
        chi2.denominator
    ) or got.chi2_uniform_e6 == int(1_000_000 * chi2)  # same thing
    # closed form identity, exact:
    ss = sum(c * c for c in counts.values())
    assert got.chi2_uniform_e6 == (1_000_000 * (24 * ss - n * n)) // n
    assert got.peak_hour == min(
        counts, key=lambda h: (-counts[h], h)
    )


# ----- X172 markov transitions vs a Python reference -------------------------


@given(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=2, max_size=30
    )
)
@settings(max_examples=8, deadline=None)
def test_markov_matches_python_reference(spark, seq):
    from poet_cloud_cost_etl_spark.operators.behavior import (
        markov_transitions,
    )

    rows = [
        (i, _T0 + timedelta(seconds=i), 1, t, 0.0, "")
        for i, t in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.row_ppm, r.share_ppm)
        for r in markov_transitions(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }

    cells = {}
    for a, b in zip(seq, seq[1:]):
        cells[(a, b)] = cells.get((a, b), 0) + 1
    total = sum(cells.values())
    rowtot = {}
    for (a, _), c in cells.items():
        rowtot[a] = rowtot.get(a, 0) + c
    want = {
        k: (c, (1_000_000 * c) // rowtot[k[0]], (1_000_000 * c) // total)
        for k, c in cells.items()
    }
    assert got == want


# ----- X175 HLL registers vs a hashlib reference ------------------------------


def _hll_ref(tokens):
    regs = {}
    for t in set(tokens):
        h = hashlib.md5(t.encode()).hexdigest()
        b = int(h[:2], 16) % 64
        w = int(h[2:17], 16)
        rho = 61 if w == 0 else 61 - w.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    used = len(regs)
    s = sum(1 << (61 - m) for m in regs.values()) + (64 - used) * (1 << 61)
    raw = (709 * 4096 * (1 << 61)) // (1000 * s)
    if raw <= 160 and used < 64:
        est = (64 * round(math.log(64.0 / (64 - used)) * 1_000_000)) // 1_000_000
    else:
        est = raw
    return used, est


@given(
    st.lists(
        st.text(alphabet="abcdefghij", min_size=1, max_size=6),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=8, deadline=None)
def test_hll_registers_match_hashlib_reference(spark, tokens):
    from poet_cloud_cost_etl_spark.operators.textstats import (
        hll_register_estimate,
    )

    df = spark.createDataFrame(
        [(1, " ".join(tokens), "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = hll_register_estimate(df, "source", "text").collect()[0]
    used, est = _hll_ref(tokens)
    assert (r.registers_used, r.hll_estimate) == (used, est)
    assert r.exact_distinct == len(set(tokens))


# ----- X184 HLL merge identity ------------------------------------------------


@given(
    st.lists(st.text(alphabet="abcde", min_size=1, max_size=4),
             min_size=1, max_size=30),
    st.lists(st.text(alphabet="cdefg", min_size=1, max_size=4),
             min_size=1, max_size=30),
)
@settings(max_examples=6, deadline=None)
def test_hll_union_merge_equals_single_sketch(spark, ta, tb):
    """Register MAX-merge is EXACTLY the sketch of the concatenated
    corpus — the mergeability identity that makes HLL the cross-shard
    standard; verified by comparing the pairwise union estimate with
    the single-source estimate over A+B."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        hll_register_estimate, source_overlap_hll,
    )

    docs = [
        (1, " ".join(ta), "en", "sA", 1),
        (2, " ".join(tb), "en", "sB", 1),
    ]
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    pair = source_overlap_hll(df, "source", "text").collect()[0]

    merged = spark.createDataFrame(
        [(1, " ".join(ta + tb), "en", "sU", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    single = hll_register_estimate(merged, "source", "text").collect()[0]
    assert pair.hll_union_estimate == single.hll_estimate
    assert pair.exact_union == single.exact_distinct


# ----- X179 RFM lattice quartiles vs a Python reference -----------------------


def _band(values, v):
    """cum >= ceil(q*N/4) thresholds over the distinct-value lattice."""
    n = len(values)
    lattice = sorted(set(values))
    cum, cums = 0, {}
    counts = {x: values.count(x) for x in lattice}
    for x in lattice:
        cum += counts[x]
        cums[x] = cum
    ts = []
    for q in (1, 2, 3):
        need = (q * n + 3) // 4
        ts.append(min(x for x in lattice if cums[x] >= need))
    return 1 + sum(v > t for t in ts)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # recency offset days
            st.integers(min_value=1, max_value=6),   # events per user
            st.integers(min_value=0, max_value=400), # purchase cents
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=6, deadline=None)
def test_rfm_segments_match_python_reference(spark, users):
    from poet_cloud_cost_etl_spark.operators.behavior import rfm_segments

    rows, eid = [], 0
    for u, (rec, freq, cents) in enumerate(users):
        for i in range(freq):
            # all of a user's events on the same day (10 - rec)
            val = cents / 100.0 if i == 0 else 0.0
            rows.append(
                (
                    eid,
                    _T0 + timedelta(days=10 - rec, seconds=i),
                    u,
                    "purchase" if i == 0 else "view",
                    val,
                    "",
                )
            )
            eid += 1
    df = spark.createDataFrame(rows, _EV_COLS)
    got = {
        r.segment: (r.n_users, r.total_events)
        for r in rfm_segments(
            df, "user_id", "ts", "event_type", "value"
        ).collect()
    }

    max_day = max(10 - rec for rec, _, _ in users)
    recs = [max_day - (10 - rec) for rec, _, _ in users]
    freqs = [f for _, f, _ in users]
    monies = [c for _, _, c in users]
    want = {}
    for i in range(len(users)):
        seg = (
            f"R{_band(recs, recs[i])}"
            f"F{_band(freqs, freqs[i])}"
            f"M{_band(monies, monies[i])}"
        )
        n, e = want.get(seg, (0, 0))
        want[seg] = (n + 1, e + freqs[i])
    assert got == want
