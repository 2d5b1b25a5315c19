"""Self-time computation and the wrapping tracer."""

import sys
import types

import pytest

from perfbench.trace import Span, Tracer, covered, new_files, self_times


def test_covered_merges_overlapping_children_and_clips_to_parent():
    assert covered(0.0, 10.0, []) == 0.0
    assert covered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == pytest.approx(4.0)
    assert covered(0.0, 10.0, [(-5.0, 2.0), (9.0, 15.0)]) == pytest.approx(3.0)
    assert covered(0.0, 10.0, [(4.0, 4.0)]) == 0.0


def test_self_time_subtracts_only_direct_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, 1),
        Span(1, "child", 1.0, 5.0, 0, 1),
        Span(2, "grandchild", 2.0, 4.0, 1, 1),
        Span(3, "child", 6.0, 7.0, 0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(4.0 - 2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def _fake_package():
    pkg = types.ModuleType("fakepkg_trace")
    sub = types.ModuleType("fakepkg_trace.sub")

    def leaf():
        return "leaf"

    def outer():
        return sub.leaf_alias() + "+outer"

    pkg.leaf = leaf
    sub.leaf_alias = leaf  # a `from pkg import leaf` style copy
    pkg.outer = outer

    class Node:
        def resolve(self, depth):
            return depth if depth == 0 else self.resolve(depth - 1)

    pkg.Node = Node
    return pkg, sub, leaf


def test_wrap_function_patches_every_binding_and_uninstall_restores():
    pkg, sub, leaf = _fake_package()
    sys.modules["fakepkg_trace"], sys.modules["fakepkg_trace.sub"] = pkg, sub
    try:
        tr = Tracer()
        tr.wrap_function(leaf, "layer.leaf", "fakepkg_trace")
        with tr.span("bench.call"):
            assert pkg.outer() == "leaf+outer"
        names = [(s.name, s.parent) for s in tr.spans]
        assert names == [("bench.call", None), ("layer.leaf", 0)]
        tr.uninstall()
        assert pkg.leaf is leaf and sub.leaf_alias is leaf
    finally:
        del sys.modules["fakepkg_trace"], sys.modules["fakepkg_trace.sub"]


def test_recursive_method_records_one_span():
    pkg, _, _ = _fake_package()
    orig = pkg.Node.__dict__["resolve"]
    tr = Tracer()
    tr.wrap_method(pkg.Node, "resolve", "pipe.resolve")
    assert pkg.Node().resolve(3) == 0
    assert [s.name for s in tr.spans] == ["pipe.resolve"]
    tr.uninstall()
    assert pkg.Node.__dict__["resolve"] is orig


def test_self_time_can_subtract_only_some_children():
    spans = [
        Span(0, "taps.write", 0.0, 10.0, None, 1),
        Span(1, "keyed.write", 2.0, 8.0, 0, 1),
        Span(2, "other", 8.0, 9.0, 0, 1),
    ]
    assert self_times(spans, lambda s: s.name.startswith("keyed."))[0] == pytest.approx(4.0)
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_new_files():
    assert new_files({"a": 1}, {"a": 2, "b": 3}) == {"b": 3}
