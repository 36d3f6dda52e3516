import types

import pytest

from perfbench.trace import Span, Tracer, self_times, unwrap


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "r", parent, start, end)


def test_self_time_subtracts_merged_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 4.0, parent=0),     # overlaps span 1: counted once
        _span(3, 6.0, 7.0, parent=0),
        _span(4, 6.2, 6.8, parent=3),     # grandchild: only span 3's
        _span(5, 9.0, 12.0, parent=0),    # clipped at the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 1.0 - 1.0)
    assert st[3] == pytest.approx(1.0 - 0.6)
    assert st[1] == pytest.approx(2.0)
    assert st[5] == pytest.approx(3.0)


def test_self_time_without_children_is_the_duration():
    assert self_times([_span(0, 1.0, 2.5)]) == {0: pytest.approx(1.5)}


class FakeContext:
    def __init__(self):
        self.group = None
        self.calls = []

    def setJobGroup(self, group, desc):
        self.group = group
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def test_spans_nest_and_restore_the_job_group():
    sc = FakeContext()
    tr = Tracer(sc, "wl-1")
    tr.run = "p0"
    with tr.span("pass") as outer:
        assert sc.group == outer.group
        with tr.span("route_write") as inner:
            assert sc.group == inner.group != outer.group
        assert sc.group == outer.group
    assert sc.group is None
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert {s.run for s in tr.spans} == {"p0"}
    assert "cpu" in outer.info


def test_wrap_records_a_span_per_call_and_unwraps(tmp_path):
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer(FakeContext(), "wl-1")
    tr.wrap(mod, "f")
    assert mod.f(1) == 2 and mod.f(2) == 3
    assert [s.name for s in tr.spans] == ["f", "f"]
    unwrap(mod, "f")
    assert mod.f is original
    tr.dump(str(tmp_path / "spans.jsonl"))
    assert len((tmp_path / "spans.jsonl").read_text().splitlines()) == 2
