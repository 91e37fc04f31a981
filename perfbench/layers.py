"""Per-layer measurements for the traced run.

* ``analysis`` and ``codecs``: microbenchmarks on seeded corpus text and on
  posting rows read back from the built index.
* ``build``: stage walls from the ``_checkpoints/*.json`` manifests the
  build writes.
* ``query`` and ``update``: aggregated from the spans ``trace.Tracer``
  recorded around the program's functions during the workload.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

import numpy as np

from perfbench.stats import median
from perfbench.trace import Span, Tracer, self_times

ANALYSIS_TEXTS = 500  # corpus texts the tokenizer is timed on
ANALYSIS_REPS = 3
CODEC_ROWS = 1500  # posting rows the codecs are timed on

# Query root spans opened by the workloads, by path.
POINT_ROOTS = ("q.head", "q.tail")
SPARK_ROOTS = ("q.cluster", "q.filtered_selective", "q.filtered_broad",
               "q.filtered_all", "q.batch")
SCORERS = ("maxscore", "wand", "exhaustive")
DRIVER_LAYERS = ("plan", "read", "decode", "score", "pk_lookup")
# metrics computed from each wrapped span: null when its target is missing
FEEDS = {
    "plan": ("query.plan_ms",),
    "read": ("query.read_ms", "query.postings_read", "query.blocks_decoded_share"),
    "decode": ("query.decode_ms", "query.blocks_decoded_share"),
    "pk_lookup": ("query.pk_lookup_ms",),
    "execute": ("query.cluster_job_ms",),
    **{f"score.{a}": ("query.score_ms", f"query.algo.{a}") for a in SCORERS},
    "update.add": ("update.add_documents_s",),
    "update.delete": ("update.delete_documents_ms",),
    "update.reopen": ("update.reopen_ms",),
    "update.compact": ("update.compact_s",),
}


def null_missing(metrics: dict, tracer: Tracer) -> dict[str, str]:
    """Sets to None every metric fed by a span whose target was missing.
    -> metric -> reason."""
    reasons = {}
    for span_name, why in tracer.missing.items():
        for key in FEEDS.get(span_name, ()):
            if key in metrics:
                metrics[key] = None
                reasons[key] = why
    return reasons


def install_query_tracing(tracer: Tracer) -> None:
    """Wrap the query, codec and update entry points named by the metrics."""
    from search_engine_spark import codecs, query, update

    def count_read(span: Span, _args, result):
        readers = [r for lst in result.values() for r, _ in lst]
        span.counts["postings"] = sum(r.n_docs for r in readers)
        span.counts["blocks"] = sum(r.n_blocks for r in readers)

    def count_blocks(n_of):
        def on_call(span: Span, args, _result):
            span.counts["blocks_decoded"] = n_of(args[0])
        return on_call

    SI = query.SearchIndex
    tracer.wrap(SI, "plan", "plan")
    tracer.wrap(SI, "_readers_for", "read", count_read)
    tracer.wrap(SI, "_pk_lookup", "pk_lookup")
    tracer.wrap(SI, "execute", "execute")
    tracer.wrap(SI, "__init__", "update.reopen")
    tracer.wrap(codecs.PostingReader, "decode_block", "decode", count_blocks(lambda r: 1))
    tracer.wrap(codecs.PostingReader, "decode_all", "decode", count_blocks(lambda r: r.n_blocks))
    for attr in ("decode_flat_positions", "decode_block_flat_positions",
                 "decode_block_positions", "decode_all_positions"):
        tracer.wrap(codecs.PostingReader, attr, "decode")
    for algo in SCORERS:
        tracer.wrap(query, f"_{algo}_topk", f"score.{algo}")
    tracer.wrap(update, "add_documents", "update.add")
    tracer.wrap(update, "delete_documents", "update.delete")
    tracer.wrap(update, "compact", "update.compact")


def _layer(name: str) -> str:
    return name.split(".", 1)[0] if name.startswith("score.") else name


def query_layers(tracer: Tracer, untraced_point_ms: list[float],
                 traced_point_ms: list[float]) -> tuple[dict, dict]:
    """-> (metrics, missing) for the ``query.*`` and ``trace.*`` layers."""
    spans = tracer.spans
    selfs = self_times(spans)
    root_of: list[int] = []
    for i, s in enumerate(spans):
        root_of.append(i if s.parent is None else root_of[s.parent])
    per_root: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        r = root_of[i]
        if r == i:
            continue
        acc = per_root[r]
        acc[_layer(s.name) + "_s"] += selfs[i]
        for key, v in s.counts.items():
            acc[key] += v
        if s.name.startswith("score."):
            acc["algo." + s.name[6:]] = 1
    roots = [i for i, s in enumerate(spans) if s.parent is None]
    point = [i for i in roots if spans[i].name in POINT_ROOTS]
    spark = [i for i in roots if spans[i].name in SPARK_ROOTS]
    batch = [i for i in spark if spans[i].name == "q.batch"]
    single = [i for i in spark if spans[i].name != "q.batch"]

    m: dict[str, float | None] = {}
    for layer in DRIVER_LAYERS:
        m[f"query.{layer}_ms"] = median([per_root[i][f"{layer}_s"] * 1e3 for i in point]) if point else None
    m["query.postings_read"] = median([per_root[i]["postings"] for i in point]) if point else None
    opened = sum(per_root[i]["blocks"] for i in point)
    decoded = sum(per_root[i]["blocks_decoded"] for i in point)
    m["query.blocks_decoded_share"] = decoded / opened if opened else None
    for algo in SCORERS:
        m[f"query.algo.{algo}"] = (
            sum(per_root[i][f"algo.{algo}"] for i in point) / len(point) if point else None
        )
    heads = sorted((i for i in point if spans[i].name == "q.head"),
                   key=lambda i: spans[i].duration)
    if heads:
        mid = heads[len(heads) // 2]
        m["query.head_coverage"] = 1.0 - selfs[mid] / spans[mid].duration
    else:
        m["query.head_coverage"] = None
    m["query.cluster_job_ms"] = (
        median([per_root[i]["execute_s"] * 1e3 for i in single]) if single else None
    )
    m["query.materialize_ms"] = (
        median([per_root[i]["materialize_s"] * 1e3 for i in single]) if single else None
    )
    m["query.spark_jobs_per_query"] = (
        median([spans[i].counts.get("jobs", 0) for i in spark]) if spark else None
    )
    m["query.batch_job_ms"] = median([spans[i].duration * 1e3 for i in batch]) if batch else None
    m["trace.overhead_ms"] = (
        median(traced_point_ms) - median(untraced_point_ms)
        if traced_point_ms and untraced_point_ms else None
    )
    missing = null_missing(m, tracer)
    for key, v in m.items():
        if v is None and key not in missing:
            missing[key] = "no span of this layer was recorded in this run"
    return m, missing


def update_layers(tracer: Tracer, meta: dict, bytes_written: list[int],
                  docs_written: list[int]) -> dict:
    """``update.*`` from the update spans plus the index meta."""
    by_name: dict[str, list[float]] = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s.duration)

    def med(name, scale):
        return median(by_name[name]) * scale if by_name[name] else None

    m = {
        "update.add_documents_s": med("update.add", 1.0),
        "update.delete_documents_ms": med("update.delete", 1e3),
        "update.reopen_ms": med("update.reopen", 1e3),
        "update.compact_s": med("update.compact", 1.0),
        "update.bytes_written_per_doc": (
            sum(bytes_written) / sum(docs_written) if sum(docs_written) else None
        ),
        "update.generations": len(meta.get("generations", {})),
        "update.tombstones": int(meta.get("n_deleted", 0)),
    }
    null_missing(m, tracer)
    return m


def build_layers(index_dir: str, spark_jobs: int) -> tuple[dict, dict]:
    """``build.*`` from the checkpoint manifests. -> (metrics, sub_walls)."""
    recs = {}
    for path in glob.glob(os.path.join(index_dir, "_checkpoints", "*.json")):
        with open(path) as f:
            rec = json.load(f)
        recs[rec["stage"]] = rec
    buckets = [r["wall_s"] for s, r in recs.items() if s.startswith("postings:bucket=")]
    extract = recs.get("extract", {})
    m = {
        "build.docs_s": recs.get("docs", {}).get("wall_s"),
        "build.extract_s": extract.get("wall_s"),
        "build.doc_stats_s": recs.get("doc_stats", {}).get("wall_s"),
        "build.terms_s": recs.get("terms", {}).get("wall_s"),
        "build.postings_s": sum(buckets) if buckets else None,
        "build.postings_max_bucket_s": max(buckets) if buckets else None,
        "build.n_postings": extract.get("metrics", {}).get("n_postings"),
        "build.spark_jobs": spark_jobs,
    }
    return m, recs.get("docs", {}).get("metrics", {}).get("sub_walls", {})


def analysis_layer(texts: list[str]) -> float:
    """Tokens per second of the vectorized tokenizer over ``texts``."""
    import pyarrow as pa

    from search_engine_spark.analysis import tokenize_positions_arrow_batch

    arr = pa.array(texts, type=pa.string())
    tokenize_positions_arrow_batch(arr)  # warm-up
    rates = []
    for _ in range(ANALYSIS_REPS):
        t0 = time.perf_counter()
        toks = tokenize_positions_arrow_batch(arr)[0]
        rates.append(len(toks) / (time.perf_counter() - t0))
    return median(rates)


def codec_layer(index_dir: str) -> dict:
    """Codec throughput on posting rows read back from ``index_dir``."""
    import pyarrow.dataset as ds

    from search_engine_spark import codecs
    from search_engine_spark.index import IndexPaths, read_meta

    paths = IndexPaths(index_dir)
    meta = read_meta(paths)
    cfg = meta["config"]
    tbl = ds.dataset(paths.postings, format="parquet", partitioning="hive").to_table()
    tbl = tbl.sort_by([("term", "ascending"), ("shard", "ascending")])
    step = max(1, tbl.num_rows // CODEC_ROWS)
    rows = tbl.take(np.arange(0, tbl.num_rows, step)).to_pylist()
    readers = [codecs.PostingReader.from_row(r, cfg["block_size"]) for r in rows]
    n_post = sum(r.n_docs for r in readers)
    n_bytes = sum(len(r["docs"]) + len(r["tfs"]) + len(r["dls"]) + len(r["poss"] or b"")
                  for r in rows)

    t0 = time.perf_counter()
    decoded = [r.decode_all() for r in readers]
    t_all = time.perf_counter() - t0
    t0 = time.perf_counter()
    for r in readers:
        for i in range(r.n_blocks):
            r.decode_block(i)
    t_block = time.perf_counter() - t0
    positions = [r.decode_flat_positions() if cfg["store_positions"] else None
                 for r in readers]
    t0 = time.perf_counter()
    for (d, tf, dl), pos in zip(decoded, positions):
        codecs.encode_postings(d, tf, dl, pos, block_size=cfg["block_size"],
                               avgdl=meta["avgdl"], k1=cfg["k1"], b=cfg["b"])
    t_enc = time.perf_counter() - t0
    return {
        "codecs.encode_postings_per_s": n_post / t_enc,
        "codecs.decode_all_postings_per_s": n_post / t_all,
        "codecs.decode_block_postings_per_s": n_post / t_block,
        "codecs.bytes_per_posting": n_bytes / n_post,
    }
