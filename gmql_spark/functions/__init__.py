from gmql_spark.functions.aggregates import counts_map  # noqa: F401
from gmql_spark.functions.sketches import (  # noqa: F401
    hist_cascade,
    hist_percentile,
    hist_rollup,
    hll_estimate,
    hll_rollup,
    log2_bucket,
)
from gmql_spark.functions.tdigest import (  # noqa: F401
    build_digest,
    digest_quantile,
    merge_digests,
    tdigest_cascade,
    tdigest_quantile,
    tdigest_rollup,
)
