"""The workloads: ``serve`` and ``ingest``.

Each is one closed-loop client in one process: it sends the next operation
only after the previous one returned. Spark runs at ``local[N]`` with N the
usable CPUs, at most 4. Every count is fixed (``perfbench.inputs``), so the
work a run does never depends on how fast the program does it.

Both start the same way. ``perfbench.prepare`` makes the seeded inputs and
the oracle's answers in a child process that exits before anything is timed
or sampled. Set-up is then the Spark session start, one cold ``build_index``
over the seeded corpus, ``SearchIndex`` open and one warm-up point query and
Spark-path query, so the cold cost lands in ``setup_s`` and the
index-build throughput is that set-up build's.

* ``serve``: a read-only stream over that index, mixing head and tail point
  queries (with phrase, prefix, typo and negation forms), selective and
  broad filtered queries, cluster-path queries and 32-query batches. Every
  query layer runs here; head/tail separates decode and scoring from fixed
  per-query cost, driver/cluster separates in-process scoring from Spark
  job cost. No update layer runs.
* ``ingest``: two cycles of an upsert batch (new urls plus re-crawls with a
  later ``warc_ts``) and a delete batch, each write followed by a
  ``SearchIndex`` reopen, a head and tail point sample and a cluster-path
  query on the multi-generation index; then one ``compact`` and
  oracle-checked re-queries. It is the only workload with generations and
  tombstones.

The head/tail point samples and the Spark-path queries give both workloads
the shared latency metrics. Outputs are checked outside every timing:
docids, tie order and 6-decimal scores against the oracle's answers, and
driver, cluster, everything-allowed filtered and batch paths agreeing.
"""

from __future__ import annotations

import gc
import os
import pickle
import shutil
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

from perfbench import check, inputs, layers
from perfbench.context import (PeakRss, cpu_times, descendants, run_context, steal_share,
                               wait_for_exit)
from perfbench.inputs import K
from perfbench.stats import median, percentile, supported
from perfbench.trace import Tracer

# corpus pages per workload, sized to the run budget (see README.md)
N_DOCS = {"serve": 3000, "ingest": 1500}
WORKLOADS = ("serve", "ingest")


def _index_config():
    from search_engine_spark.config import IndexConfig

    return IndexConfig(num_shards=4, num_buckets=4, attr_cols=("tier",))


def _time_points(ix, texts: list[str]) -> list[float]:
    out = []
    for text in texts:
        t0 = time.perf_counter()
        ix.search_rows(text, k=K)
        out.append((time.perf_counter() - t0) * 1e3)
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _docid_of_pk(ix) -> dict:
    import pyarrow.dataset as ds

    stats = ds.dataset(ix.paths.doc_stats, format="parquet").to_table(columns=["docid", "pk"])
    return dict(zip(stats.column("pk").to_pylist(), stats.column("docid").to_pylist()))


class Bench:
    """State of one benchmark run: session, inputs, timings and checks."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.n_docs = N_DOCS[workload]
        self.work = os.path.join(root, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        self.cpus = min(4, len(os.sched_getaffinity(0)))
        self.master = f"local[{self.cpus}]"
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.report: dict = {}
        self.per_layer: dict[str, float | None] = {}
        self.missing: dict[str, str] = {}
        self.context: dict = {}
        self.tracer: Tracer | None = None
        self.spark = None
        self.docids: dict = {}  # pk -> engine docid of the index being queried
        self._t0 = time.perf_counter()
        self.phases: dict[str, float] = {}  # phase -> seconds since start
        self.head_flags: list[bool] = []  # per point query: holds a head term

    # ---- plumbing -------------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def start_spark(self):
        from search_engine_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = build_session(
            self.master, app_name="perfbench", shuffle_partitions=2 * self.cpus,
            spark__driver__memory="1g",
            spark__driver__extraJavaOptions=f"-Djava.io.tmpdir={tmp}",
            spark__local__dir=os.path.join(self.work, "spark-local"),
            spark__sql__warehouse__dir=os.path.join(self.work, "warehouse"),
            spark__sql__session__timeZone="UTC",
            spark__ui__enabled="false",
            spark__ui__showConsoleProgress="false",
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> list[int]:
        """Stops Spark and waits for the JVM and its Python workers."""
        if self.spark is None:
            return []
        pids = descendants(os.getpid())
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None
        return wait_for_exit(pids)

    def jobs_in_group(self, group: str | None) -> set:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def build(self, path: str) -> tuple[float, int]:
        """One fresh build_index over the pages at ``path`` into
        ``self.index_dir``. -> (wall seconds, Spark jobs). Jobs are counted
        by job group plus the ungrouped jobs the build's worker threads
        submit."""
        from search_engine_spark.build import build_index

        sdf = self.spark.read.parquet(path)
        sc = self.spark.sparkContext
        before = self.jobs_in_group(None)
        sc.setJobGroup("build", "build")
        t0 = time.perf_counter()
        meta = build_index(self.spark, sdf, self.index_dir, _index_config())
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = len(self.jobs_in_group("build")) + len(self.jobs_in_group(None) - before)
        self.expect(meta["n_docs"] == self.inp["n_docs"],
                    f"build indexed {meta['n_docs']} docs, want {self.inp['n_docs']}")
        return wall, jobs

    def quiesce(self) -> None:
        """Collect garbage before a timed section, so neither Python's nor
        the JVM's collector pauses for what earlier work left; what is left
        is frozen out of Python's later scans."""
        gc.collect()
        gc.freeze()
        if self.spark is not None:
            self.spark.sparkContext._jvm.System.gc()

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(time.perf_counter() - self._t0, 2)

    def _span(self, name: str, qid: str | None = None):
        return self.tracer.span(name, qid=qid) if self.tracer is not None else nullcontext()

    # ---- queries ----------------------------------------------------------------
    def same(self, got, answer, what: str) -> None:
        """Counts a check of engine rows ``got`` against an oracle answer."""
        self.expect(check.same_results(check.pairs(got), check.expected(answer, self.docids, K)),
                    f"{what} differs from the oracle")

    def point(self, ix, q: inputs.Query, answer=None, root: str | None = None) -> list[dict]:
        """One driver-path point query, timed into ``self.lat[root]``
        (default ``q.<class>``) and checked against ``answer`` if given."""
        name = root or f"q.{q.cls}"
        try:
            with self._span(name, q.qid):
                t0 = time.perf_counter()
                rows = ix.search_rows(q.text, k=K)
                dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            self.attempted += 1
            self.fail(f"{q.qid} {q.text!r}: {type(e).__name__}: {e}")
            return []
        self.lat[name].append(dt * 1e3)
        self.head_flags.append(q.head)
        if answer is None:
            self.attempted += 1
        else:
            self.same(rows, answer, f"{q.qid} {q.text!r}")
        return rows

    def spark_query(self, name: str, qid: str, run):
        """One Spark-path query (``run`` returns its collected result),
        timed into ``self.lat[name]`` and ``self.lat['spark']``; the Spark
        jobs it ran are counted through a job group named ``qid``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(qid, qid)
        try:
            with self._span(name, qid) as root:
                t0 = time.perf_counter()
                rows = run()
                dt = time.perf_counter() - t0
            if root is not None:
                root.counts["jobs"] = len(self.jobs_in_group(qid))
        except Exception as e:  # noqa: BLE001
            self.attempted += 1
            self.fail(f"{qid}: {type(e).__name__}: {e}")
            return None
        finally:
            sc.setJobGroup(None, None)
        self.lat[name].append(dt * 1e3)
        self.lat["spark"].append(dt * 1e3)
        return rows

    def materialize(self, df):
        with self._span("materialize"):
            return df.collect()

    def search(self, ix, text: str, **kw):
        return lambda: self.materialize(ix.search(text, k=K, **kw))

    def batch(self, ix, qs: list[inputs.Query]):
        def run():
            rows = self.materialize(ix.search_many([(i, q.text) for i, q in enumerate(qs)], k=K))
            out: dict[int, list] = defaultdict(list)
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                out[r["query_id"]].append(r)
            return out
        return run

    def check_batch(self, out, checked, tag: str) -> None:
        if out is not None:
            for i, (q, answer) in enumerate(checked):
                self.same(out.get(i, []), answer, f"{tag} {q.qid} {q.text!r}")

    def identity(self, ix, q: inputs.Query, answer=None, paths=("cluster", "filtered_all")) -> None:
        """Driver, cluster and everything-allowed filtered paths must return
        the same results (and match the oracle when an answer is given)."""
        drv = ix.search_rows(q.text, k=K)
        if answer is not None:
            self.same(drv, answer, f"driver {q.qid} {q.text!r}")
        kws = {"cluster": {"execution": "cluster"}, "filtered_all": {"filter_ast": inputs.ALL_FILTER}}
        for name in paths:
            rows = self.spark_query(f"q.{name}", f"{q.qid}-{name}", self.search(ix, q.text, **kws[name]))
            if rows is not None:
                self.expect(check.same_results(check.pairs(rows), check.pairs(drv)),
                            f"{name} {q.qid} {q.text!r} differs from the driver path")

    # ---- run ----------------------------------------------------------------------
    def make_inputs(self) -> None:
        """Corpus, query stream and oracle answers, made by a child process
        that has exited when this returns (not timed, not sampled)."""
        out = os.path.join(self.work, "input")
        subprocess.run([sys.executable, "-m", "perfbench.prepare", self.workload,
                        str(self.seed), str(self.n_docs), out],
                       cwd=self.root, stdout=sys.stderr, check=True)
        with open(os.path.join(out, "inputs.pkl"), "rb") as f:
            self.inp = pickle.load(f)

    def run(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.index_dir = os.path.join(self.work, "idx")
        cpu0 = cpu_times()
        rss = None
        try:
            self.context = run_context(self.root, self.master, self.n_docs, self.seed)
            self.context["query_classes"] = {
                "head_rank": inputs.HEAD_RANK, "tail_rank": inputs.TAIL_RANK,
                "form_shares": inputs.FORM_SHARES,
            }
            self.make_inputs()
            self.mark("inputs")
            rss = PeakRss().start()
            self.quiesce()
            ix = self.setup()
            self.mark("setup")
            if self.workload == "serve":
                self._serve(ix)
            else:
                self._ingest(ix)
            self.mark("workload")
            self.finish_latencies()
        finally:
            if rss is not None:
                self.report["peak_rss_mb"] = rss.stop()
            self.context["loadavg_1m_end"] = os.getloadavg()[0]
            self.context["cpu_steal_share"] = steal_share(cpu0, cpu_times())
            survivors = self.stop_spark()
            if survivors:
                self.fail(f"processes still running after stop: {survivors}")
            shutil.rmtree(self.work, ignore_errors=True)
            self.mark("stopped")
            self.report["phases_s"] = self.phases

    def setup(self):
        """Session start, cold build, open and warm-up, timed as ``setup_s``."""
        from search_engine_spark.query import SearchIndex

        t0 = time.perf_counter()
        self.start_spark()
        session_s = time.perf_counter() - t0
        wall, self.build_jobs = self.build(self.inp["pages"])
        t1 = time.perf_counter()
        ix = SearchIndex(self.spark, self.index_dir)
        warm = self.inp["warm"]
        ix.search_rows(warm.text, k=K)
        ix.search(warm.text, k=K, execution="cluster").collect()
        self.report["setup_s"] = session_s + wall + (time.perf_counter() - t1)
        self.report["session_s"] = session_s
        self.report["build_docs_per_s"] = self.inp["n_docs"] / wall
        self.report["text_bytes"] = self.inp["text_bytes"]
        self.docids = _docid_of_pk(ix)
        if self.trace:
            self.tracer = Tracer()
            layers.install_query_tracing(self.tracer)
        return ix

    def _serve(self, ix) -> None:
        inp = self.inp
        self.report["index_bytes_per_text_byte"] = _dir_bytes(self.index_dir) / inp["text_bytes"]
        n_batched = 0
        self.quiesce()
        t0 = time.perf_counter()
        for i, op in enumerate(inp["spark_ops"]):
            for j in range(i * inputs.POINTS_PER_ROUND, (i + 1) * inputs.POINTS_PER_ROUND):
                self.point(ix, *inp["heads"][j])
                self.point(ix, *inp["tails"][j])
            if op.cls == "batch":
                out = self.spark_query("q.batch", f"b{i}", self.batch(ix, op.queries))
                n_batched += len(op.queries)
                self.check_batch(out, list(zip(op.queries, op.answers)), "batch")
            else:
                q = op.queries[0]
                rows = self.spark_query(f"q.{op.cls}", f"{op.cls}{i}",
                                        self.search(ix, q.text, **op.kwargs))
                if rows is not None:
                    self.same(rows, op.answers[0], f"{op.cls} {q.qid} {q.text!r}")
        self.report["serve_wall_s"] = time.perf_counter() - t0
        self.mark("stream")
        if self.lat["q.batch"]:
            self.report["batch_queries_per_s"] = n_batched / (sum(self.lat["q.batch"]) / 1e3)
        self.identity(ix, *inp["identity"], paths=("filtered_all",))
        self.finish_layers(ix)

    def sample_after_write(self, w: int, deleted: set):
        """Reopens the index after a write and runs point-sample window
        ``w`` on the multi-generation index, checked for deleted docs
        (scores use the not-yet-compacted df, so the oracle applies only
        after compaction), then one cluster-path query that must agree
        with the driver path. -> the reopened SearchIndex."""
        from search_engine_spark.query import SearchIndex

        ix = SearchIndex(self.spark, self.index_dir)
        self.quiesce()
        for j in range(w * inputs.WINDOW_SAMPLES, (w + 1) * inputs.WINDOW_SAMPLES):
            for q in (self.inp["heads"][j], self.inp["tails"][j]):
                rows = self.point(ix, q)
                self.expect(not any(r["pk"] in deleted for r in rows),
                            f"{q.qid} returned a deleted document")
        self.identity(ix, self.inp["window_identity"][w], paths=("cluster",))
        return ix

    def _ingest(self, ix) -> None:
        from search_engine_spark import update
        from search_engine_spark.index import IndexPaths, read_meta
        from search_engine_spark.query import SearchIndex

        inp = self.inp
        d = self.index_dir
        batch_dfs = [(self.spark.read.parquet(path), dels) for path, dels in inp["batches"]]
        deleted = set()
        rates, added_bytes, added_docs = [], [], []
        for c, (batch, dels) in enumerate(batch_dfs):
            n = inputs.N_NEW + inputs.N_RECRAWL
            size0 = _dir_bytes(d)
            ta = time.perf_counter()
            update.add_documents(self.spark, d, batch)
            rates.append(n / (time.perf_counter() - ta))
            added_bytes.append(_dir_bytes(d) - size0)
            added_docs.append(n)
            self.sample_after_write(2 * c, deleted)
            update.delete_documents(self.spark, d, dels)
            deleted |= set(dels)
            ix = self.sample_after_write(2 * c + 1, deleted)
        self.mark("cycles")
        self.report["upsert_docs_per_s"] = median(rates)
        self.report["index_bytes_per_text_byte"] = _dir_bytes(d) / inp["text_bytes"]
        self.update_bytes, self.update_docs = added_bytes, added_docs

        # the latest re-crawls are visible under their new text
        got = {r["pk"] for r in ix.search_rows(inp["marker"], k=100)}
        want = inp["marker_urls"]
        self.expect(got == want, f"re-crawled docs of {inp['marker']}: got {len(got)}, want {len(want)}")
        self.identity(ix, inp["identity"], paths=("filtered_all",))

        self.meta_before_compact = read_meta(IndexPaths(d))
        tc = time.perf_counter()
        update.compact(self.spark, d)
        self.report["compact_s"] = time.perf_counter() - tc
        self.mark("compact")
        ix = SearchIndex(self.spark, d)
        self.docids = _docid_of_pk(ix)
        self.expect(len(self.docids) == inp["n_live"],
                    f"compacted index holds {len(self.docids)} docs, want {inp['n_live']}")
        for q, answer in inp["compacted"]:
            self.point(ix, q, answer, root="q.compacted")
        self.identity(ix, *inp["final_identity"])
        qs = [q for q, _ in inp["final_batch"]]
        self.check_batch(self.spark_query("q.batch", "verify-batch", self.batch(ix, qs)),
                         inp["final_batch"], "batch")
        self.finish_layers(ix)

    # ---- results ------------------------------------------------------------------
    def finish_layers(self, ix) -> None:
        """Per-layer metrics of a traced run; spans are written out."""
        if not self.trace:
            return
        import pyarrow.parquet as pq

        from search_engine_spark.index import IndexPaths, read_meta

        # trace overhead: every query of a warm sample runs with tracing on
        # and off, alternating which goes first
        self.tracer.uninstall()
        traced, untraced = [], []
        for i, q in enumerate(self.inp["overhead"]):
            for on in ((True, False) if i % 2 else (False, True)):
                if on:
                    layers.install_query_tracing(self.tracer)
                    traced += _time_points(ix, [q.text])
                    self.tracer.uninstall()
                else:
                    untraced += _time_points(ix, [q.text])
        qm, missing = layers.query_layers(self.tracer, untraced, traced)
        self.per_layer.update(qm)
        self.missing.update(missing)
        bm, sub = layers.build_layers(self.index_dir, self.build_jobs)
        self.per_layer.update(bm)
        self.report["build_sub_walls"] = sub
        meta = getattr(self, "meta_before_compact", None) or read_meta(IndexPaths(self.index_dir))
        um = layers.update_layers(self.tracer, meta,
                                  getattr(self, "update_bytes", []),
                                  getattr(self, "update_docs", []))
        self.per_layer.update(um)
        texts = pq.read_table(self.inp["pages"], columns=["text"]).column("text").to_pylist()
        self.per_layer["analysis.tokens_per_s"] = layers.analysis_layer(texts[:layers.ANALYSIS_TEXTS])
        self.per_layer.update(layers.codec_layer(self.index_dir))
        spans = os.path.join(self.root, ".perfbench", "spans")
        os.makedirs(spans, exist_ok=True)
        self.tracer.dump(os.path.join(spans, f"{self.workload}-{self.seed}.jsonl"))

    def finish_latencies(self) -> None:
        """Latency summaries per the percentile rule, with sample counts."""
        for key, src in (("head", "q.head"), ("tail", "q.tail"), ("compacted", "q.compacted"),
                         ("cluster", "q.cluster"), ("filtered_selective", "q.filtered_selective"),
                         ("filtered_broad", "q.filtered_broad"), ("spark_query", "spark")):
            xs = self.lat[src]
            if not xs:
                continue
            self.report[f"{key}_p50_ms"] = median(xs)
            self.report[f"{key}_samples"] = len(xs)
            if supported(len(xs), 90):
                self.report[f"{key}_p90_ms"] = percentile(xs, 90)
        if self.workload == "ingest":
            self.report["updated_p50_ms"] = median(self.lat["q.head"] + self.lat["q.tail"])
        self.report["error_rate"] = self.failed / max(1, self.attempted)
        if self.head_flags:
            self.report["head_term_query_share"] = sum(self.head_flags) / len(self.head_flags)
