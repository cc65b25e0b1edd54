from .jobs import (
    stream_sessionize,
    stream_extract,
    stream_fetch_rate,
    stream_frontier_foreachbatch,
)

__all__ = [
    "stream_sessionize",
    "stream_extract",
    "stream_fetch_rate",
    "stream_frontier_foreachbatch",
]
