"""Structured Streaming surface (driver north_star extension).

The reference is strictly batch (SURVEY.md §2.2 "Streaming: none");
this package demonstrates the same windowed aggregations as
``queries/events.py`` running incrementally: ``readStream`` sources,
watermarks for late data, tumbling/sliding/session windows, and an
``applyInPandasWithState`` custom stateful operator.
"""

from hdfs_parquet_importer_spark.streaming.pipeline import (  # noqa: F401
    dedup_stream,
    read_events_stream,
    run_to_memory,
    running_user_totals,
    sessionized_counts,
    sliding_counts,
    stream_static_enrich,
    streaming_ewma,
    stream_stream_interval_join,
    tumbling_counts,
    write_stream_parquet,
)
