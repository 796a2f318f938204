"""Benchmark of the words_in_context_spark engine (see run.py)."""
