"""Streaming / incremental semantics (SURVEY §2.9)."""

from .pipeline import (  # noqa: F401
    micro_batch_upsert,
    sessionized_stream,
    stream_parquet_dir,
    windowed_stream_agg,
)
from .stateful import (  # noqa: F401
    pandas_sessions_vectorized,
    running_totals,
    stateful_sessions,
)
