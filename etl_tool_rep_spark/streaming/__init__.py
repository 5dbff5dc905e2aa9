from .stream import (deduped_stream, drain, read_event_stream,
                     run_available_now, sessionized_stream,
                     windowed_agg_stream)

__all__ = ["read_event_stream", "windowed_agg_stream",
           "sessionized_stream", "deduped_stream",
           "drain", "run_available_now"]
