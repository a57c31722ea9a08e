from gmql_spark.streaming.ingest_stream import stream_ingest  # noqa: F401
from gmql_spark.streaming.materialize import (  # noqa: F401
    run_rollup_multi_batch,
    run_rollup_to_table,
    stage_files_ordered,
    watermark_trail,
)
from gmql_spark.streaming.rollup_stream import (  # noqa: F401
    stream_hist_rollup,
    stream_hll_rollup,
    stream_rollup,
)
from gmql_spark.streaming.session_stream import stream_sessionize  # noqa: F401
