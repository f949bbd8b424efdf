"""Self-time arithmetic and wrapper install/restore, without Spark."""

from __future__ import annotations

import os
import pickle
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import run  # noqa: E402
import spans  # noqa: E402
from spans import Span  # noqa: E402


def tree() -> list[Span]:
    """root [0,10] > a [1,4] > a1 [2,3]; root > b [5,9]."""
    return [
        Span("root", None, 0.0, 10.0, bk_s=0.0),
        Span("a", 0, 1.0, 4.0, bk_s=0.5),
        Span("a1", 1, 2.0, 3.0, bk_s=0.1),
        Span("b", 0, 5.0, 9.0, bk_s=0.2),
    ]


def test_self_time_subtracts_children_and_their_bookkeeping():
    assert spans.self_times(tree()) == pytest.approx([2.3, 1.9, 1.0, 4.0])


def test_total_time_is_sum_of_subtree_self_times():
    sp = tree()
    selfs, totals = spans.self_times(sp), spans.total_times(sp)
    assert totals == pytest.approx([9.2, 2.9, 1.0, 4.0])
    subtrees = {0: [0, 1, 2, 3], 1: [1, 2], 2: [2], 3: [3]}
    for i, members in subtrees.items():
        assert totals[i] == pytest.approx(sum(selfs[k] for k in members))


def test_overlapping_children_are_covered_once():
    sp = [
        Span("root", None, 0.0, 10.0),
        Span("c1", 0, 1.0, 5.0),
        Span("c2", 0, 3.0, 6.0),
        Span("c3", 0, 8.0, 12.0),  # runs past its parent: clipped
    ]
    assert spans.self_times(sp)[0] == pytest.approx(10.0 - 5.0 - 2.0)


def test_live_tracer_nests_spans_and_records_bookkeeping():
    tr = spans.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, 0)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert spans.self_times(tr.spans)[0] >= 0.0


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def _bindings():
    return {
        (name, attr): val
        for name, mod in list(sys.modules.items())
        if name.startswith(run.ENGINE)
        for attr, val in vars(mod).items()
    }


def test_install_wraps_every_binding_and_restore_removes_them():
    pytest.importorskip("pyspark")
    import poet_cloud_cost_etl_spark.catalog as catalog
    import poet_cloud_cost_etl_spark.queries as queries
    from poet_cloud_cost_etl_spark.operators import normalize

    tr = spans.Tracer()
    before = _bindings()
    try:
        assert tr.install(run.ENGINE, skip=run.WRAP_SKIP) > 0
        # catalog.table is wrapped where defined and where queries.py binds it
        assert isinstance(catalog.table, spans._Wrapped)
        assert queries.table is catalog.table
        # the registry's own functions are not wrapped
        assert not isinstance(queries.q_costs_union_view, spans._Wrapped)
        assert normalize.canonical_name("Cost/Unit") == "cost_unit"
        assert [s.name for s in tr.spans] == ["operators.normalize.canonical_name"]
        # a wrapper ships to executors as the function it wraps
        from pyspark import cloudpickle

        shipped = pickle.loads(cloudpickle.dumps(normalize.canonical_name))
        assert not isinstance(shipped, spans._Wrapped)
        assert shipped("Cost/Unit") == "cost_unit"
        assert spans.wrapped_bindings(run.ENGINE)
    finally:
        tr.restore()
    assert spans.wrapped_bindings(run.ENGINE) == []
    after = _bindings()
    assert all(after[k] is v for k, v in before.items())
