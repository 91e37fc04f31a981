import numpy as np
import pandas as pd

from perfbench import inputs


def _stream(seed):
    from search_engine_spark.oracle.bm25 import build_oracle_index

    pdf = inputs.make_corpus(300, seed)
    oracle = build_oracle_index(pdf, attr_cols=("tier",))
    ranked = inputs.terms_by_df(oracle.postings)
    text_of = dict(zip(pdf["url"], pdf["text"]))

    def tokens_of(d):
        from search_engine_spark.analysis import tokenize_with_positions
        return tokenize_with_positions(text_of[oracle.docid_to_pk[d]])

    rng = np.random.default_rng([seed, 1])
    qs = (inputs.make_queries(50, "head", ranked, oracle.positions, tokens_of, rng, "h")
          + inputs.make_queries(50, "tail", ranked, oracle.positions, tokens_of, rng, "t"))
    return pdf, ranked, qs


def test_same_seed_same_corpus_and_queries():
    a_pdf, _, a_q = _stream(5)
    b_pdf, _, b_q = _stream(5)
    pd.testing.assert_frame_equal(a_pdf, b_pdf)
    assert a_q == b_q
    c_pdf, _, c_q = _stream(6)
    assert not a_pdf["text"].equals(c_pdf["text"])
    assert a_q != c_q


def test_query_classes():
    _, ranked, qs = _stream(5)
    head = set(ranked[: inputs.HEAD_RANK])
    tail = set(ranked[inputs.TAIL_RANK:])
    for q in qs:
        words = [w.strip('"') for w in q.text.split()]
        if q.cls == "head":
            assert q.head and words[0] in head
        elif q.form == "plain":
            assert set(words) <= tail and not q.head
    assert {q.form for q in qs} <= set(inputs.FORM_SHARES)


def test_form_shares_are_exact_per_block():
    ranked = [f"w{i:04d}x" for i in range(3000)]
    rng = np.random.default_rng(1)
    # no positions: every phrase falls back to plain
    qs = inputs.make_queries(200, "tail", ranked, {}, None, rng, "t")
    counts = {f: sum(q.form == f for q in qs) for f in inputs.FORM_SHARES}
    for form in ("prefix", "typo", "negation"):
        assert counts[form] == round(inputs.FORM_SHARES[form] * 200)
    assert counts["plain"] == round((inputs.FORM_SHARES["plain"] + inputs.FORM_SHARES["phrase"]) * 200)
