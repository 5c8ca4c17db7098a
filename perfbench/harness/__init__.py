"""Benchmark harness for blinkit_etl_pipeline_spark (see perfbench/README.md)."""
