"""Benchmark harness for splink_spark: workloads, process-tree meter,
span tracer and Spark event-log parser. Entry point: ``perfbench/run.py``."""
