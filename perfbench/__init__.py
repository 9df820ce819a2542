"""Benchmark of the CDC engine: three workloads (bulk WAL replay, an
open-loop WAL tail, point reads beside ingest), correctness gates
against independent oracles, and a traced mode that reports per-layer
self time. Entry point: ``python3 perfbench/run.py --workload <name>``;
see ``perfbench/README.md``."""
