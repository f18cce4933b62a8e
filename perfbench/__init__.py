"""Benchmark harness for cloudfloe_spark; entry point: perfbench/run.py."""
