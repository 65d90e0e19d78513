"""Structured Streaming operators (SURVEY §2.9 — engine extensions; the
reference's closest analogue is the interactive serve loop, app.py:124-179)."""

from .queries import (  # noqa: F401
    serve_loop,
    streaming_dedup,
    streaming_tumbling_counts,
)
