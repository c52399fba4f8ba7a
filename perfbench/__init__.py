"""Benchmark for dask_expr_spark: see README.md."""
