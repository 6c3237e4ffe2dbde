from .ingest import StreamIngest, stream_insert
from .windows import gap_sessions, windowed_agg

__all__ = [
    "StreamIngest",
    "stream_insert",
    "windowed_agg",
    "gap_sessions",
]
