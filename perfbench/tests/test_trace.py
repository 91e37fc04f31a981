import types

import pytest

from perfbench.trace import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)


def test_self_time_subtracts_children_only():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a.x", 2.0, 3.0, parent=1),
        Span("b", 5.0, 6.5, parent=0),
    ]
    assert self_times(spans) == pytest.approx([10 - 3 - 1.5, 3 - 1, 1, 1.5])


def test_wrap_records_nested_spans_and_restores():
    mod = types.SimpleNamespace()

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    t = Tracer()
    assert t.wrap(mod, "inner", "inner")
    assert t.wrap(mod, "outer", "outer", lambda s, args, res: s.counts.update(res=res))
    with t.span("root", qid="q1"):
        assert mod.outer(1) == 4
    names = [s.name for s in t.spans]
    assert names == ["root", "outer", "inner"]
    assert [s.parent for s in t.spans] == [None, 0, 1]
    assert all(s.qid == "q1" for s in t.spans)
    assert t.spans[1].counts == {"res": 4}
    t.uninstall()
    assert mod.inner is inner and mod.outer is outer


def test_wrap_method_and_staticmethod():
    class C:
        def m(self):
            return 1

        @staticmethod
        def s():
            return 2

    t = Tracer()
    t.wrap(C, "m", "m")
    t.wrap(C, "s", "s")
    assert C().m() == 1 and C.s() == 2 and C().s() == 2
    assert [s.name for s in t.spans] == ["m", "s", "s"]
    t.uninstall()
    assert isinstance(C.__dict__["s"], staticmethod)


def test_missing_target_is_listed_not_fatal():
    t = Tracer()
    assert not t.wrap(types.SimpleNamespace(), "gone", "layer.gone")
    assert "layer.gone" in t.missing


def test_layer_metrics_of_a_missing_target_read_null():
    from perfbench import layers

    t = Tracer()
    assert not t.wrap(types.SimpleNamespace(), "_maxscore_topk", "score.maxscore")
    with t.span("q.head", qid="h0"):
        with t.span("plan"):
            pass
        with t.span("read") as s:
            s.counts.update(postings=10, blocks=2)
        with t.span("score.exhaustive"):
            with t.span("decode") as d:
                d.counts["blocks_decoded"] = 2
    m, missing = layers.query_layers(t, [1.0], [1.2])
    assert m["query.algo.maxscore"] is None and m["query.score_ms"] is None
    assert "query.algo.maxscore" in missing
    assert m["query.algo.exhaustive"] == 1.0
    assert m["query.postings_read"] == 10 and m["query.blocks_decoded_share"] == 1.0
    assert m["trace.overhead_ms"] == pytest.approx(0.2)
    assert 0.0 <= m["query.head_coverage"] <= 1.0
