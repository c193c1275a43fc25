"""Benchmark of the pipeline engine: see NOTES.md."""
