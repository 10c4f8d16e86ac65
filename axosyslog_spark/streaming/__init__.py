"""Structured Streaming face of the engine.

The reference is an unbounded-stream engine; our batch pipeline's
stages (parse/enrich/route) are pure projections, so the flagship
PipelineSpec compiles over a streaming DataFrame unchanged
(stream_pipeline). This package adds the genuinely streaming pieces:
watermarked windowed aggregates, session windows (grouping-by
timeout), streaming dedup (suppress), a stateful token-bucket rate
limiter, and per-sink streaming writes.
"""
