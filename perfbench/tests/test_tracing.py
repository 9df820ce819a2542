"""Self-tests of span recording and self-time attribution.

    python3 -m pytest perfbench/tests -q
"""

import threading

import pytest

from perfbench.tracing import Span, Tracer, by_name, self_times


def _span(i, parent, start, end, name=None):
    return Span(i, parent, 1, name or f"s{i}", start, end, {})


def test_self_time_is_duration_minus_children():
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 4), _span(3, 1, 5, 6)]
    st = self_times(spans)
    assert st[1] == pytest.approx(6.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_children_share_time_and_never_exceed_parent():
    # two pipelined children overlapping on [2, 4]
    spans = [_span(1, None, 0, 6), _span(2, 1, 1, 4), _span(3, 1, 2, 5)]
    st = self_times(spans)
    assert st[1] == pytest.approx(2.0)  # [0,1] and [5,6]
    assert st[2] == pytest.approx(1.0 + 1.0)  # alone on [1,2], half of [2,4]
    assert st[3] == pytest.approx(1.0 + 1.0)  # half of [2,4], alone on [4,5]
    assert sum(st.values()) == pytest.approx(6.0)


def test_nested_overlap_sums_to_root_duration():
    spans = [
        _span(1, None, 0, 10),
        _span(2, 1, 0, 8),
        _span(3, 1, 2, 10),
        _span(4, 2, 1, 3),  # grandchild under an overlapped child
        _span(5, 3, 4, 9),
    ]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(10.0)
    assert all(v >= 0 for v in st.values())
    # self of every span is at most its own duration
    for s in spans:
        assert st[s.id] <= s.duration + 1e-9


def test_child_outside_parent_is_clipped():
    spans = [_span(1, None, 0, 2), _span(2, 1, 1, 5)]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(2.0)


def test_tracer_links_spans_of_one_op_across_threads():
    t = Tracer()
    with t.op("root") as root:
        with t.span("outer"):
            def work():
                with t.span("pooled"):
                    pass

            th = threading.Thread(target=work)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
    names = {s.name: s for s in t.spans}
    assert {s.op for s in t.spans} == {root.id}
    # the pooled span hangs under the span open on the op's thread
    assert names["pooled"].parent == names["outer"].id
    assert names["outer"].parent == root.id


def test_wrap_adds_phase_children_and_disabled_tracer_records_nothing():
    t = Tracer()

    def engine_call(x):
        return {"plan": 0.001, "job": 0.002, "x": x}

    def on_result(span, result, args):
        t.add_children(span, [("plan", result["plan"]), ("job", result["job"])])

    wrapped = t.wrap(engine_call, "engine", on_result)
    with t.op("op"):
        assert wrapped(3)["x"] == 3
    agg = by_name(t.spans)
    assert agg["engine"]["calls"] == 1
    assert agg["plan"]["calls"] == agg["job"]["calls"] == 1
    total_self = sum(row["self_s"] for row in agg.values())
    assert total_self == pytest.approx(agg["op"]["wall_s"])

    t.enabled = False
    n = len(t.spans)
    with t.op("op"):
        wrapped(4)
    assert len(t.spans) == n


def test_patch_restores_original():
    class Target:
        @staticmethod
        def f():
            return 1

    t = Tracer()
    original = Target.f
    with t.patch(Target, "f", "target.f"):
        assert Target.f is not original
        with t.op("op"):
            assert Target.f() == 1
    assert Target.f is original
    assert [s.name for s in t.spans if s.name == "target.f"] == ["target.f"]
