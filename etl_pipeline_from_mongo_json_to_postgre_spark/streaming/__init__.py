from .events import windowed_counts
from .harness import drain_to_memory, staged_stream, watch_table

__all__ = ["drain_to_memory", "staged_stream", "watch_table", "windowed_counts"]
