"""Output checks against the single-process oracle (``oracle/bm25.py``).

Results compare on docids, their order (ties: score desc, docid asc) and
scores at 6 decimals. Raw floats are never compared: the engine's scorers
sum terms in different orders and can differ from the oracle in the last
digits while agreeing at 6 decimals.
"""

from __future__ import annotations


def same_score(a: float, b: float) -> bool:
    return round(a, 6) == round(b, 6) or abs(a - b) <= 1e-9


def same_results(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and same_score(g[1], w[1]) for g, w in zip(got, want)
    )


def pairs(rows) -> list[tuple[int, float]]:
    """(docid, score) from ``search_rows`` dicts or collected Rows."""
    return [(int(r["docid"]), float(r["score"])) for r in rows]


def expected(answer, docid_of_pk: dict, k: int) -> list[tuple[int, float]]:
    """The oracle's top ``k`` under the engine's docids: an answer from
    ``perfbench.prepare`` (pk, score), ties ordered by the engine docid."""
    got = sorted(((docid_of_pk[pk], s) for pk, s in answer), key=lambda x: (-x[1], x[0]))
    return got[:k]
