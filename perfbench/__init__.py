"""Benchmark of document_ai_spark; see README.md."""
