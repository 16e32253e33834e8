"""Structured Streaming index maintenance (index_stream)."""
