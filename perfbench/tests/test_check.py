from perfbench import check
from perfbench.prepare import answer


def test_expected_orders_ties_by_engine_docid():
    # the oracle's answer in its own pk order; the engine numbered the
    # docs differently (as updates do), so the tie of b and c flips
    ans = [("a", 3.0), ("b", 2.0), ("c", 2.0), ("d", 2.0)]
    docid_of_pk = {"a": 10, "b": 12, "c": 11, "d": 13}
    assert check.expected(ans, docid_of_pk, 3) == [(10, 3.0), (11, 2.0), (12, 2.0)]


def test_same_results_compares_six_decimals():
    assert check.same_results([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not check.same_results([(1, 0.300001)], [(1, 0.3)])
    assert not check.same_results([(2, 0.3)], [(1, 0.3)])
    assert not check.same_results([(1, 0.3)], [])


def test_answer_keeps_the_whole_tie_at_k():
    import pandas as pd

    from search_engine_spark.oracle.bm25 import build_oracle_index

    # 30 identical pages tie on every query word; an answer holds all of
    # them, so the engine's docids decide which ten come first
    pdf = pd.DataFrame({"url": [f"u{i:02d}" for i in range(30)] + ["v"],
                        "text": ["alpha beta"] * 30 + ["gamma"],
                        "warc_ts": pd.Timestamp("2024-01-01")})
    idx = build_oracle_index(pdf)
    got = answer(idx, "alpha")
    assert sorted(pk for pk, _ in got) == [f"u{i:02d}" for i in range(30)]
    assert [pk for pk, _ in answer(idx, "gamma")] == ["v"]
    assert answer(idx, "missing") == []
