"""Steady end-to-end and per-layer benchmark of the textindexing_spark
engine. Entry point: ``python3 perfbench/run.py --workload serve|ingest``;
see ``perfbench/README.md``."""
