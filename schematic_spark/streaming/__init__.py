from .validate_stream import (  # noqa: F401
    dedup_stream,
    running_verdict_totals,
    session_counts_stream,
    validate_stream,
    windowed_verdict_counts,
)
