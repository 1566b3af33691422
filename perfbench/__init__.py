"""Serving benchmark for filodb_spark; entry point: perfbench/run.py."""
