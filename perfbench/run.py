"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve|ingest> --seed <n>
        --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``). The line before it is a report with every
metric the workload measured, the run context and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _units(spec: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[key]}


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: a run does a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print(f"perfbench: no search_engine_spark package under {ROOT}", file=sys.stderr)
        return 2

    # Everything the run writes stays inside the checkout.
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the Spark launcher and the driver) keeps its temp files in
    # the checkout and writes no perf-data file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}") if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    from perfbench.workloads import Bench

    bench = Bench(ROOT, args.workload, args.seed, bool(args.trace))
    bench.run()

    wanted = _units(spec, "per_layer" if args.trace else "end_to_end")
    source = bench.per_layer if args.trace else bench.report
    # a metric that could not be measured reads null and is listed as
    # missing with its reason, never 0
    metrics, missing = {}, dict(bench.missing)
    for name, unit in wanted.items():
        value = source.get(name)
        if value is None:
            missing.setdefault(name, "not measured in this run")
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({
        "report": {"workload": args.workload, "trace": args.trace, "seconds": args.seconds,
                   "metrics": bench.report, "per_layer": bench.per_layer,
                   "missing": missing, "context": bench.context,
                   "failures": bench.failures}
    }, default=str))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
