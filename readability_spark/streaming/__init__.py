from .stream import (  # noqa: F401
    read_pages_stream,
    stream_extract_to_parquet,
)
