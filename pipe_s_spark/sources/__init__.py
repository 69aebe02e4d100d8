from pipe_s_spark.sources.readers import TABLES, load_table, load_tables
from pipe_s_spark.sources.kafka import decode_changelog_frame, read_kafka_changelog
from pipe_s_spark.sources.failover import (
    EndpointChangeTracker,
    FailoverSource,
    SourceUnavailableError,
    start_stream_with_failover,
    supervise_stream_with_failover,
)

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "decode_changelog_frame",
    "read_kafka_changelog",
    "EndpointChangeTracker",
    "FailoverSource",
    "SourceUnavailableError",
    "start_stream_with_failover",
    "supervise_stream_with_failover",
]
