"""Seeded inputs and the oracle's answers, made in a process of their own.

    python3 -m perfbench.prepare <serve|ingest> <seed> <n_docs> <out_dir>

A run starts this before its Spark session and waits for it to exit. It
writes the pages (and ingest's update batches) as parquet under ``out_dir``
and everything else the run needs to ``out_dir/inputs.pkl``: the query
stream and, for every query the run checks, the oracle's answer. The oracle
(``search_engine_spark/oracle/bm25.py``) and the pandas frames live only in
this process, so building them is in no timing and their memory is not in
the run's ``peak_rss_mb``.

An answer is the oracle's top ``K`` plus every further result tied with the
``K``-th score, as (pk, score). Once the index exists the run maps the pks
to the engine's docids and sorts by (score desc, docid asc), which gives the
oracle's order under the engine's docids; updates assign those out of pk
order.
"""

from __future__ import annotations

import os
import pickle
import sys

import numpy as np

from perfbench import inputs
from perfbench.inputs import K, Answer, Query, SparkOp


def answer(idx, text: str, allowed: set[int] | None = None) -> Answer:
    from search_engine_spark.oracle.bm25 import oracle_search

    n = 2 * K
    while True:
        got = oracle_search(idx, text, k=n, allowed_docids=allowed)
        if len(got) < n or got[-1][1] < got[K - 1][1]:
            break
        n *= 2
    last = got[K - 1][1] if len(got) >= K else float("-inf")
    return [(idx.docid_to_pk[d], s) for d, s in got if s >= last]


class Oracle:
    """The oracle over ``pdf`` and the seeded query generator on its
    vocabulary (df ranks, adjacent pairs for phrases)."""

    def __init__(self, pdf, seed: int):
        from search_engine_spark.analysis import tokenize_with_positions
        from search_engine_spark.oracle.bm25 import build_oracle_index

        self.idx = idx = build_oracle_index(pdf, attr_cols=("tier",))
        latest = pdf.sort_values(["url", "warc_ts"])
        text_of = dict(zip(latest["url"], latest["text"]))  # last write wins
        self._ranked = inputs.terms_by_df(idx.postings)
        self._tokens_of = lambda d: tokenize_with_positions(text_of[idx.docid_to_pk[d]])
        self._rng = np.random.default_rng([seed, 1])

    def queries(self, n: int, cls: str, prefix: str) -> list[Query]:
        return inputs.make_queries(n, cls, self._ranked, self.idx.positions,
                                   self._tokens_of, self._rng, prefix)

    def plain_head(self, prefix: str) -> Query:
        return next(q for q in self.queries(20, "head", prefix) if q.form == "plain")

    def checked(self, qs: list[Query]) -> list[tuple[Query, Answer]]:
        return [(q, answer(self.idx, q.text)) for q in qs]

    def tier_below(self, max_tier: int) -> set[int]:
        return {d for d, a in self.idx.attrs.items() if a["tier"] < max_tier}


def _text_bytes(pdf) -> int:
    return int(pdf["text"].str.encode("utf-8").str.len().sum())


def _write(pdf, path: str) -> str:
    pdf.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def prepare_serve(pdf, seed: int) -> dict:
    o = Oracle(pdf, seed)
    n = inputs.ROUNDS * inputs.POINTS_PER_ROUND
    pool = [q for q in o.queries(200, "head", "s") + o.queries(200, "tail", "u")
            if q.form == "plain"]
    np.random.default_rng([seed, 2]).shuffle(pool)
    pool_it = iter(pool)
    filters = {"filtered_selective": (inputs.SELECTIVE_FILTER, o.tier_below(3)),
               "filtered_broad": (inputs.BROAD_FILTER, o.tier_below(50))}
    ops = []
    for i in range(inputs.ROUNDS):
        cls = inputs.SPARK_CLASSES[i % len(inputs.SPARK_CLASSES)]
        if cls == "batch":
            qs = [next(pool_it) for _ in range(inputs.BATCH_SIZE)]
            ops.append(SparkOp(cls, {}, qs, [a for _, a in o.checked(qs)]))
        elif cls == "cluster":
            q = next(pool_it)
            ops.append(SparkOp(cls, {"execution": "cluster"}, [q], [answer(o.idx, q.text)]))
        else:
            flt, allowed = filters[cls]
            q = next(pool_it)
            ops.append(SparkOp(cls, {"filter_ast": flt}, [q], [answer(o.idx, q.text, allowed)]))
    return {
        "n_docs": o.idx.n_docs,
        "heads": o.checked(o.queries(n, "head", "h")),
        "tails": o.checked(o.queries(n, "tail", "t")),
        "spark_ops": ops,
        "identity": o.checked([o.plain_head("ih")])[0],
        "overhead": o.queries(inputs.OVERHEAD_SAMPLES, "head", "oh"),
        "warm": o.plain_head("w"),
    }


def prepare_ingest(pdf, seed: int, out_dir: str) -> dict:
    cycles = inputs.make_batches(pdf, seed)
    live = inputs.apply_batches(pdf, cycles)
    # the oracle applies only after compaction (before it, scores use the
    # not-yet-compacted document frequencies), so it is built over the
    # logical corpus the updates leave; the queries come from its vocabulary
    o = Oracle(live, seed)
    n = 2 * inputs.CYCLES * inputs.WINDOW_SAMPLES
    marker = f"cycle{inputs.CYCLES - 1}"
    batch = [q for q in o.queries(inputs.BATCH_SIZE, "head", "vb") if q.form == "plain"]
    return {
        "n_docs": int(pdf["url"].nunique()),
        "n_live": o.idx.n_docs,
        "batches": [(_write(b, os.path.join(out_dir, f"batch{c}.parquet")), dels)
                    for c, (b, dels) in enumerate(cycles)],
        "heads": o.queries(n, "head", "uh"),
        "tails": o.queries(n, "tail", "ut"),
        "marker": marker,
        "marker_urls": set(live.loc[live["text"].str.contains(marker + " ", regex=False), "url"]),
        "window_identity": [o.plain_head(f"iw{w}") for w in range(2 * inputs.CYCLES)],
        "identity": o.plain_head("ih"),
        "compacted": o.checked(o.queries(inputs.N_COMPACTED, "head", "ch")
                               + o.queries(inputs.N_COMPACTED, "tail", "ct")),
        "final_identity": o.checked([o.plain_head("fh")])[0],
        "final_batch": o.checked(batch),
        "overhead": o.queries(inputs.OVERHEAD_SAMPLES, "head", "oh"),
        "warm": o.plain_head("w"),
    }


def prepare(workload: str, seed: int, n_docs: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    pdf = inputs.make_corpus(n_docs, seed)
    out = prepare_serve(pdf, seed) if workload == "serve" else prepare_ingest(pdf, seed, out_dir)
    out["pages"] = _write(pdf, os.path.join(out_dir, "pages.parquet"))
    out["text_bytes"] = _text_bytes(pdf)
    return out


def main(argv: list[str]) -> int:
    workload, seed, n_docs, out_dir = argv
    out = prepare(workload, int(seed), int(n_docs), out_dir)
    with open(os.path.join(out_dir, "inputs.pkl"), "wb") as f:
        pickle.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
