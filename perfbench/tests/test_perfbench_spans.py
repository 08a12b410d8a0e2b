import pytest

from spans import Tracer, covered


def test_covered_is_the_clipped_union():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert covered([(1, 2), (1, 2)], 0, 10) == pytest.approx(1)
    assert covered([(-5, 20)], 0, 10) == pytest.approx(10)
    assert covered([(11, 12)], 0, 10) == 0


def _fixed(tracer, sid, start, end):
    tracer.spans[sid]["start"], tracer.spans[sid]["end"] = start, end


def test_self_time_subtracts_covered_children_only():
    t = Tracer()
    with t.span("job") as job:
        with t.span("a"):
            with t.span("a.inner"):
                pass
        with t.span("b"):
            pass
        with t.span("c"):
            pass
    ids = {s["name"]: s["id"] for s in t.spans}
    assert t.spans[ids["a"]]["parent"] == job["id"]
    assert t.spans[ids["a.inner"]]["parent"] == ids["a"]
    _fixed(t, ids["job"], 0.0, 10.0)
    _fixed(t, ids["a"], 1.0, 3.0)
    _fixed(t, ids["a.inner"], 1.5, 2.0)
    _fixed(t, ids["b"], 2.0, 5.0)     # overlaps a: counted once
    _fixed(t, ids["c"], 8.0, 12.0)    # runs past the parent: clipped
    assert t.self_time(ids["job"]) == pytest.approx(10 - 4 - 2)
    assert t.self_time(ids["a"]) == pytest.approx(2 - 0.5)
    assert t.self_time(ids["a.inner"]) == pytest.approx(0.5)


def test_patched_wraps_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer()
    original = Owner.f
    with t.patched(Owner, {"f": "owner.f"}):
        assert Owner.f(1) == 2
    assert Owner.f is original
    assert [s["name"] for s in t.spans] == ["owner.f"]
    assert t.durations("owner.f")[0] >= 0
