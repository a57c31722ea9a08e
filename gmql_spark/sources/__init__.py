from gmql_spark.sources.catalog import (  # noqa: F401
    read_transcripts,
    write_transcripts,
)
