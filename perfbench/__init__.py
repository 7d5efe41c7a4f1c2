"""Benchmark for mlx_vector_db_spark; run with ``python3 perfbench/run.py``."""
