"""Benchmark for the unimib_simpss_spark engine; see NOTES.md."""
