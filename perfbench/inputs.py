"""Seeded inputs: corpus, attribute column, query stream and update batches.

Everything here is a pure function of the workload seed, so the same seed
gives the same corpus, queries and batches. The program under test only
ever receives these generated inputs.

Query classes (shares are fixed, recorded in every result):

* ``head``: at least one of the ``HEAD_RANK`` highest-df terms;
* ``tail``: every word beyond df rank ``TAIL_RANK``.

Both classes mix in operator forms at exactly ``FORM_SHARES`` per block of
100 queries (shuffled within the block): phrase, prefix, typo and negation.
Exact counts keep the slow typo queries from moving the p90 by chance.
Filtered queries use the ``tier`` attribute (0..99, a hash of
the url): ``SELECTIVE_FILTER`` keeps about 3% of the docs, ``BROAD_FILTER``
about half, ``ALL_FILTER`` every doc.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

HEAD_RANK = 50
TAIL_RANK = 1000
FORM_SHARES = {"plain": 0.70, "phrase": 0.08, "prefix": 0.08,
               "typo": 0.07, "negation": 0.07}
SELECTIVE_FILTER = {"tier": {"$lt": 3}}
BROAD_FILTER = {"tier": {"$lt": 50}}
ALL_FILTER = {"tier": {"$gte": 0}}
BATCH_SIZE = 32
K = 10

# Workload shape: fixed counts, so the work a run does never depends on how
# fast the program does it.
# serve: ROUNDS rounds of POINTS_PER_ROUND head and POINTS_PER_ROUND tail
# point queries, each round followed by one Spark-path query of the next class
ROUNDS = 8
POINTS_PER_ROUND = 14
SPARK_CLASSES = ("cluster", "filtered_selective", "filtered_broad", "batch")
# ingest: update cycles; after each write (upsert, then delete) the index is
# reopened and WINDOW_SAMPLES head and tail point queries run on it. Four
# windows spread the sample over the cycles, so a few slow seconds of the
# host weigh less. Then N_COMPACTED of each class on the compacted index.
CYCLES = 2
WINDOW_SAMPLES = 28
N_COMPACTED = 40
OVERHEAD_SAMPLES = 110  # head queries timed with and without tracing
# per update cycle: new urls and re-crawled urls in the upsert, deleted urls
N_NEW, N_RECRAWL, N_DELETE = 60, 20, 10


@dataclass(frozen=True)
class Query:
    qid: str
    text: str
    cls: str    # 'head' | 'tail'
    form: str   # a FORM_SHARES key
    head: bool  # holds a term of df rank < HEAD_RANK


# an oracle answer: (pk, score) pairs, see ``perfbench.prepare``
Answer = list[tuple[str, float]]


@dataclass
class SparkOp:
    """One Spark-path operation of the serve stream: a ``search`` with
    ``kwargs`` (one query) or a ``search_many`` batch (``cls == "batch"``),
    with the oracle's answer to each query."""
    cls: str
    kwargs: dict
    queries: list[Query]
    answers: list[Answer]


def tier_of(url: str) -> int:
    return zlib.crc32(url.encode("utf-8")) % 100


def make_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """The seeded pages corpus plus the ``tier`` filter attribute."""
    from search_engine_spark.corpus import generate_pages

    pdf = generate_pages(n_docs=n_docs, seed=seed)
    pdf["tier"] = np.array([tier_of(u) for u in pdf["url"]], dtype=np.int32)
    return pdf


def terms_by_df(postings: dict[str, dict]) -> list[str]:
    """Vocabulary ordered by document frequency (desc), ties by term."""
    return sorted(postings, key=lambda t: (-len(postings[t]), t))


def _one_typo(word: str, rng: np.random.Generator) -> str:
    i = int(rng.integers(len(word)))
    c = "aeiou"[int(rng.integers(5))] if word[i] not in "aeiou" else "z"
    return word[:i] + c + word[i + 1:]


def _adjacent_pair(first: str, positions: dict[str, dict[int, list[int]]],
                   tokens_of, rng: np.random.Generator) -> str | None:
    """A word that directly follows ``first`` somewhere in the corpus."""
    docs = sorted(positions.get(first, {}))
    if not docs:
        return None
    d = docs[int(rng.integers(len(docs)))]
    at = {p: t for t, p in tokens_of(d)}
    for p in positions[first][d]:
        if p + 1 in at:
            return at[p + 1]
    return None


def make_queries(n: int, cls: str, ranked: list[str], positions, tokens_of,
                 rng: np.random.Generator, prefix: str) -> list[Query]:
    """``n`` queries of class ``cls`` drawn from ``ranked`` (df order)."""
    head_set = set(ranked[:HEAD_RANK])
    mid = ranked[HEAD_RANK:TAIL_RANK]
    tail = ranked[TAIL_RANK:]
    if not tail:
        raise ValueError(f"corpus vocabulary too small for tail queries ({len(ranked)} terms)")
    block = [f for f, share in FORM_SHARES.items() for _ in range(round(share * 100))]
    forms: list[str] = []
    while len(forms) < n:
        forms.extend(block[int(j)] for j in rng.permutation(len(block)))
    # like the forms, word counts and head terms come up in exact shares
    # (every head term once per HEAD_RANK queries, each count every third
    # query), so a latency median varies less with the seed's draw
    head_terms = [ranked[int(j)] for j in rng.permutation(HEAD_RANK)]
    out: list[Query] = []
    for i, form in enumerate(forms[:n]):
        pool = mid if cls == "head" else tail
        if cls == "head":
            words = [head_terms[i % HEAD_RANK]]
            words += [mid[int(rng.integers(len(mid)))] for _ in range(i % 3)]
        else:
            words = [tail[int(rng.integers(len(tail)))] for _ in range(1 + i % 3)]
        # operators add a word (or quote the first pair) so the class words stay
        extra = pool[int(rng.integers(len(pool)))]
        while form == "typo" and len(extra) < 4:
            extra = pool[int(rng.integers(len(pool)))]
        if form == "phrase":
            nxt = _adjacent_pair(words[0], positions, tokens_of, rng)
            if nxt is None:
                form = "plain"
            else:
                words[0] = f'"{words[0]} {nxt}"'
        elif form == "prefix":
            words.append(extra[: max(3, len(extra) - 2)] + "*")
        elif form == "typo":
            words.append(_one_typo(extra, rng) + "~")
        elif form == "negation":
            words.append("-" + mid[int(rng.integers(len(mid)))])
        text = " ".join(words)
        bare = {w.strip('"*~-') for part in words for w in part.split()}
        out.append(Query(f"{prefix}{i}", text, cls, form, bool(bare & head_set)))
    return out


def make_batches(pdf: pd.DataFrame, seed: int):
    """Update batches for the ingest workload: per cycle, ``N_NEW`` new urls
    plus ``N_RECRAWL`` re-crawls of live urls with a later ``warc_ts`` (one
    upsert batch), and ``N_DELETE`` live urls to delete.
    -> list of ``CYCLES`` (upsert DataFrame, delete pk list)."""
    from search_engine_spark.corpus import generate_pages

    rng = np.random.default_rng([seed, 7])
    cols = ["url", "warc_ts", "html", "text", "lang"]
    latest = pdf.sort_values(["url", "warc_ts"]).groupby("url", as_index=False).last()
    rows = {r["url"]: r for r in latest[cols].to_dict("records")}
    fresh = generate_pages(n_docs=N_NEW * CYCLES, seed=seed + 1, dup_frac=0.0)
    cycles = []
    for c in range(CYCLES):
        new = fresh.iloc[c * N_NEW:(c + 1) * N_NEW][cols].copy()
        new["url"] = [u.replace("/page/", f"/new{c}/") for u in new["url"]]
        live = sorted(rows)
        pick = rng.choice(len(live), size=N_RECRAWL + N_DELETE, replace=False)
        re_urls = [live[int(i)] for i in pick[:N_RECRAWL]]
        del_urls = [live[int(i)] for i in pick[N_RECRAWL:]]
        re = pd.DataFrame([rows[u] for u in re_urls], columns=cols)
        re["warc_ts"] = re["warc_ts"] + pd.Timedelta(days=500 + c)
        re["text"] = re["text"].str.slice(0, 300) + f" recrawl cycle{c} update."
        re["html"] = [f"<html><body>{t}</body></html>".encode() for t in re["text"]]
        batch = pd.concat([new, re], ignore_index=True)
        batch["tier"] = np.array([tier_of(u) for u in batch["url"]], dtype=np.int32)
        cycles.append((batch, del_urls))
        rows.update({r["url"]: r for r in batch[cols].to_dict("records")})
        for u in del_urls:
            del rows[u]
    return cycles


def apply_batches(pdf: pd.DataFrame, cycles) -> pd.DataFrame:
    """The logical corpus after ``cycles``: last write wins per url, deletes
    drop the url. Input duplicates resolve like the build (latest ts)."""
    cur = pdf.sort_values(["url", "warc_ts"]).groupby("url", as_index=False).last()
    for batch, dels in cycles:
        cur = pd.concat([cur[~cur["url"].isin(batch["url"])], batch],
                        ignore_index=True)
        cur = cur[~cur["url"].isin(dels)]
    return cur.reset_index(drop=True)
