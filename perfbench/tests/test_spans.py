import pytest

from perfbench.spans import Span, Tracer, layer_self_times, self_times


def test_self_time_subtracts_children_once():
    spans = [
        Span("request", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 3.0, 0, "r"),
        Span("b", 2.0, 5.0, 0, "r"),     # overlaps a: [1, 5] counted once
        Span("c", 8.0, 12.0, 0, "r"),    # clipped to the parent's end
        Span("d", 2.5, 3.5, 2, "r"),     # grandchild: only b loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_layer_self_times_groups_by_name():
    spans = [Span("request", 0.0, 4.0, None, "r0"),
             Span("exec", 1.0, 4.0, 0, "r0"),
             Span("request", 5.0, 6.0, None, "r1"),
             Span("exec", 5.0, 5.5, 2, "r1")]
    got = layer_self_times(spans)
    assert got["request"] == pytest.approx([1.0, 0.5])
    assert got["exec"] == pytest.approx([3.0, 0.5])


def test_tracer_records_parents(tmp_path):
    tr = Tracer()
    with tr.span("request", "r1"):
        with tr.span("plan", "r1"):
            pass
        with tr.span("exec", "r1"):
            pass
    with tr.span("request", "r2"):
        pass
    assert [(s.name, s.parent, s.rid) for s in tr.spans] == [
        ("request", None, "r1"), ("plan", 0, "r1"), ("exec", 0, "r1"),
        ("request", None, "r2")]
    assert all(s.end >= s.start for s in tr.spans)
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    assert len(out.read_text().splitlines()) == 4
