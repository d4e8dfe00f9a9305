from .events_stream import (  # noqa: F401
    sessionize_stream,
    stream_events,
    user_running_totals,
    windowed_counts,
)
