"""Benchmark for etl_data_spark: seeded workloads, output checks, layer tracing."""
