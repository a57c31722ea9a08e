from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gmql_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app_name="gmql-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


def assert_pdf_equal(
    actual: pd.DataFrame,
    expected: pd.DataFrame,
    sort_by: list[str],
    float_cols: tuple[str, ...] = (),
    exact_floats: bool = True,
):
    """Order-insensitive exact comparison of a Spark result (already
    ``toPandas()``-ed) against a pandas oracle frame."""
    assert set(actual.columns) == set(expected.columns), (
        f"columns differ: {sorted(actual.columns)} vs {sorted(expected.columns)}"
    )
    a = actual.sort_values(sort_by, kind="mergesort").reset_index(drop=True)[expected.columns]
    e = expected.sort_values(sort_by, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(e), f"row counts differ: {len(a)} vs {len(e)}"
    for col in e.columns:
        av, ev = a[col], e[col]
        if col in float_cols or ev.dtype == np.float64:
            aa, ee = av.astype(float).to_numpy(), ev.astype(float).to_numpy()
            both_nan = np.isnan(aa) & np.isnan(ee)
            if exact_floats:
                ok = (aa == ee) | both_nan
            else:
                ok = np.isclose(aa, ee, rtol=1e-12, atol=1e-12, equal_nan=True)
            assert ok.all(), f"{col}: first mismatch at\n{a[~ok].head(3)}\nvs\n{e[~ok].head(3)}"
        elif av.map(lambda x: isinstance(x, dict)).any() or ev.map(
            lambda x: isinstance(x, dict)
        ).any():
            for i, (x, y) in enumerate(zip(av, ev)):
                assert dict(x or {}) == dict(y or {}), f"{col} row {i}: {x} != {y}"
        else:
            pd.testing.assert_series_equal(av, ev, check_names=False, check_dtype=False)


def spark_jobs(spark, fn) -> int:
    """Number of Spark jobs that ``fn()`` runs, read from the status
    tracker under a job group of its own."""
    import uuid

    group = f"counted-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark, fn) -> int:
    """Number of classes Janino compiles while ``fn()`` runs: the delta
    of the JVM's ``CodegenMetrics`` compile counter, read without a
    Spark job. A class served from the codegen cache is not counted."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    fn()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before
