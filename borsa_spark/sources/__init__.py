from borsa_spark.sources.rest import (
    FakeTransport,
    RestAdapter,
    UrllibTransport,
    map_http_error,
    rest_source,
    socket_quote_stream,
    stream_source,
)
from borsa_spark.sources.tables import load_table

__all__ = [
    "load_table",
    "FakeTransport",
    "RestAdapter",
    "UrllibTransport",
    "map_http_error",
    "rest_source",
    "socket_quote_stream",
    "stream_source",
]
