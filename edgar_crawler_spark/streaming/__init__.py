from .jobs import stream_fetch_rate, stream_sessionize

__all__ = ["stream_fetch_rate", "stream_sessionize"]
