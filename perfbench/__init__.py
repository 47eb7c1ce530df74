"""Benchmark for etly_spark: transfer and catalog workloads with a per-layer trace."""
