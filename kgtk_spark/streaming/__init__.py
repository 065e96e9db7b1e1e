"""Structured Streaming surface.

The reference has NO streaming subsystem (its only "streams" are Unix
pipes between CLI stages, kgtk/cli_entry.py:136-163) — this module is
the Spark-native extension: a streaming edge-ingest that runs the
same pipeline definition per micro-batch, with watermarked event-time
windows for late data.
"""

from kgtk_spark.streaming.ingest import (
    stream_edges_from_pages,
    windowed_edge_counts,
)

__all__ = ["stream_edges_from_pages", "windowed_edge_counts"]
