"""Self-tests of the benchmark harness (no Spark needed).

Run from the repository root: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
from spans import Span, Tracer, covered, inclusive, layer_self_times, self_times  # noqa: E402


def _span(i, name, parent, start, end, jobs=0):
    return Span(i, name, parent, None, start, end, jobs=list(range(jobs)))


def test_self_time_subtracts_children_and_their_overlap():
    spans = [
        _span(0, "bench.op", None, 0.0, 10.0),
        _span(1, "sql.statement", 0, 1.0, 9.0),
        _span(2, "catalog.lookup", 1, 2.0, 3.0),
        _span(3, "query.answer", 1, 4.0, 7.0),
        _span(4, "query.load_states", 3, 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 4.0, 2: 1.0, 3: 2.0, 4: 1.0})
    # the self times partition the root's duration
    assert sum(st.values()) == pytest.approx(10.0)
    assert layer_self_times(spans) == pytest.approx(
        {"bench": 2.0, "sql": 4.0, "catalog": 1.0, "query": 3.0}
    )


def test_covered_merges_overlapping_and_clips_to_parent():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert covered([], 0, 10) == 0.0


def test_inclusive_counts_sum_descendants():
    spans = [
        _span(0, "sql.statement", None, 0, 1, jobs=1),
        _span(1, "catalog.lookup", 0, 0, 1, jobs=2),
        _span(2, "query.answer", 0, 0, 1, jobs=0),
        _span(3, "query.load_states", 2, 0, 1, jobs=3),
    ]
    assert inclusive(spans, lambda s: len(s.jobs)) == {0: 6, 1: 2, 2: 3, 3: 3}


def test_tracer_nests_spans_and_restores_wrapped_functions():
    class Layer:
        @staticmethod
        def work(x):
            return [x] * x

    tr = Tracer()
    tr.wrap(Layer, "work", "scan.work", lambda out, a, kw: {"n": len(out), "arg": a[0]})
    with tr.span("bench.op"):
        assert Layer.work(3) == [3, 3, 3]
    tr.unwrap_all()
    assert Layer.work(2) == [2, 2]  # unwrapped: no new span
    names = {s.name: s for s in tr.spans}
    assert set(names) == {"bench.op", "scan.work"}
    assert names["scan.work"].parent == names["bench.op"].id
    assert names["scan.work"].attrs == {"n": 3, "arg": 3}


def test_tail_percentile_refuses_thin_tails():
    xs = list(range(99))
    with pytest.raises(checks.TooFewSamples):
        checks.tail_percentile(xs, 0.9)  # 9 samples beyond p90
    assert checks.tail_percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    with pytest.raises(checks.TooFewSamples):
        checks.tail_percentile(list(range(150)), 0.95)


def _oracle():
    o = inputs.Oracle()
    t = o.by_source.setdefault("web", inputs.SourceTruth())
    t.token_counts[:12] = [900, 800, 700, 600, 500, 400, 300, 200, 100, 50, 10, 5]
    t.ntok_hist[[100, 200, 300, 400]] = [25, 25, 25, 25]
    t.doc_idx.append(np.arange(1000))
    return o


def test_distinct_check_flags_a_perturbed_estimate():
    exact = {"web": 1000}
    good = [{"group": "web", "estimate": 1010.0, "rse_bound": 0.01}]
    assert checks.check_distinct(good, exact).ok
    bad = [{"group": "web", "estimate": 1000.0 * (1 + 5 * 0.01), "rse_bound": 0.01}]
    v = checks.check_distinct(bad, exact)
    assert not v.ok and v.figures["distinct_rel_err"] == pytest.approx(0.05)


def test_topk_check_flags_undercount_overcount_and_missing_token():
    o = _oracle()
    counts = {"web": o.by_source["web"].token_counts}
    rows = [{"group": "web", "token": t, "est_count": int(counts["web"][t]) + 3, "err_bound": 5.0}
            for t in range(10)]
    assert checks.check_topk(rows, counts, 10).ok
    under = [dict(r) for r in rows]
    under[0]["est_count"] = 899
    assert not checks.check_topk(under, counts, 10).ok
    over = [dict(r) for r in rows]
    over[3]["est_count"] = 606
    assert not checks.check_topk(over, counts, 10).ok
    missing = rows[1:] + [{"group": "web", "token": 11, "est_count": 8, "err_bound": 5.0}]
    v = checks.check_topk(missing, counts, 10)
    assert not v.ok and v.figures["topk_recall"] == pytest.approx(0.9)


def test_percentile_check_uses_exact_rank_interval():
    o = _oracle()
    ok = [{"group": "web", "q": 0.5, "value": 200.0, "rank_err_bound": 0.01}]
    assert checks.check_percentiles(ok, o.rank_interval).ok  # rank of 200 is [0.25, 0.5]
    bad = [{"group": "web", "q": 0.5, "value": 350.0, "rank_err_bound": 0.01}]
    v = checks.check_percentiles(bad, o.rank_interval)
    assert not v.ok and v.figures["quantile_rank_err"] == pytest.approx(0.25)


def test_union_check_flags_a_perturbed_estimate():
    assert checks.check_union({"est": 1020.0, "est_err": 10.0}, 1000, "est").ok
    assert not checks.check_union({"est": 1041.0, "est_err": 10.0}, 1000, "est").ok


def test_inputs_are_a_pure_function_of_the_seed(tmp_path):
    spec = inputs.InputSpec(seed=5, table_rows=300, side_half=50, delta_rows=40, n_deltas=2)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    inputs.write_inputs(spec, a, workers=1)
    inputs.write_inputs(spec, b, workers=2)
    oa, ob = inputs.Oracle().add_dir(a + "/table"), inputs.Oracle().add_dir(b + "/table")
    assert oa.tokens == ob.tokens > 0
    for sv in oa.by_source:
        assert np.array_equal(oa.by_source[sv].token_counts, ob.by_source[sv].token_counts)
    assert len(oa.all_doc_idx()) == 300
    d0 = inputs.Oracle().add_dir(inputs.delta_dir(a, 0)).all_doc_idx()
    assert d0.min() == 300 and d0.max() == 339  # deltas continue the row index
    c = str(tmp_path / "c")
    inputs.write_inputs(inputs.InputSpec(seed=6, table_rows=300, side_half=50), c, workers=1)
    assert inputs.Oracle().add_dir(c + "/table").tokens != oa.tokens
