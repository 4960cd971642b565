"""Self time on nested spans and the call wrappers."""

from __future__ import annotations

import types

import pytest

from perfbench.spans import Tracer, self_times


def _span(sid, parent, start, end, name="s"):
    return {"id": sid, "name": name, "parent": parent, "phase": "p", "start": start, "end": end}


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),    # overlaps child 1: the union counts once
        _span(3, 0, 8.0, 12.0),   # runs past the parent: clipped at 10
        _span(4, 1, 1.5, 2.5),    # grandchild: only its own parent loses it
        _span(5, None, 20.0, 21.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert got[1] == pytest.approx(2.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(1.0)
    assert got[5] == pytest.approx(1.0)


def test_open_spans_are_ignored():
    got = self_times([_span(0, None, 0.0, None), _span(1, 0, 1.0, 2.0)])
    assert got == {1: pytest.approx(1.0)}


class Conflict(Exception):
    pass


def test_wrappers_record_nested_spans_counts_and_errors():
    mod = types.SimpleNamespace()

    def inner(x):
        if x < 0:
            raise Conflict
        return {"n": x}

    def outer(x):
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    alias = types.SimpleNamespace(inner=inner)  # a second module holding the same function
    t = Tracer()
    t.wrap([mod, alias], "inner", "layer.inner",
           after=lambda r, a, k: t.count("inner.n", r["n"]),
           error=lambda e: t.count("inner.errors"))
    t.wrap([mod], "outer", "layer.outer")

    assert mod.outer(3) == {"n": 3}
    assert t.spans == []  # inactive: calls pass straight through

    t.active, t.phase = True, "tail"
    mod.outer(3)
    alias.inner(4)
    with pytest.raises(Conflict):
        mod.inner(-1)
    t.active = False

    names = [(s["name"], s["parent"]) for s in t.spans]
    assert names == [("layer.outer", None), ("layer.inner", 0),
                     ("layer.inner", None), ("layer.inner", None)]
    assert dict(t.counts) == {"tail.inner.n": 7, "tail.inner.errors": 1}
    tot = t.totals()
    assert tot["tail.layer.inner"]["calls"] == 3
    assert tot["tail.layer.outer"]["self_s"] <= tot["tail.layer.outer"]["total_s"]

    t.uninstall()
    assert mod.inner is inner and mod.outer is outer and alias.inner is inner


def test_wrap_refuses_owners_holding_different_functions():
    a = types.SimpleNamespace(f=lambda: 1)
    b = types.SimpleNamespace(f=lambda: 2)
    with pytest.raises(RuntimeError):
        Tracer().wrap([a, b], "f", "x")
