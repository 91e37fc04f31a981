"""Seeded end-to-end and per-layer benchmark for search_engine_spark.

Entry point: ``python3 perfbench/run.py --workload <serve|ingest>
--seed <n> --seconds <s> --trace <0|1>``, run from the repository root.
See ``perfbench/README.md`` for the workloads, metrics and recorded baseline.
"""
