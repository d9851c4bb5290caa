"""Benchmark of the datafusion_gpu_spark engine; see perfbench/README.md."""
