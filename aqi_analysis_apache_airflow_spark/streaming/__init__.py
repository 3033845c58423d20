from .ops import dedup_within_watermark, read_events_stream, windowed_counts

__all__ = ["dedup_within_watermark", "read_events_stream", "windowed_counts"]
