"""Driver-contract consistency: queries()/oracle_sql() key hygiene and
CoverParam resolution semantics."""

from __future__ import annotations

import pytest


def test_entry_contract_keys():
    """Every oracle belongs to a query, EVERY query has an oracle (as of
    round 4 the stub-decoder path is fixture-oracled too — the board is
    all-exact); names are snake_case. Since round 5 the board must be
    EXACTLY 50 entries: the driver's CORRECTNESS artifact records only
    the first 50, so a 51st gate would silently go unverified."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs), set(os_) - set(qs)
    rows_only = set(qs) - set(os_)
    assert rows_only == set(), rows_only
    assert all(n == n.lower() and " " not in n for n in qs)
    assert len(qs) == 50 and len(os_) == len(qs)


def test_resolve_cover_param():
    from gmql_spark.operators.cover import resolve_cover_param

    assert resolve_cover_param("ALL", 7) == 7
    assert resolve_cover_param("ANY", 7) is None
    assert resolve_cover_param("ALL-2", 7) == 5
    assert resolve_cover_param("ALL+1", 7) == 8
    assert resolve_cover_param("ALL/2", 7) == 3
    assert resolve_cover_param("all/2", 1) == 1  # floor clamped to >= 1
    assert resolve_cover_param(3, 7) == 3
    assert resolve_cover_param(None, 7) is None
    with pytest.raises(ValueError):
        resolve_cover_param("ALL*2", 7)


def test_cover_param_strings_in_cover(spark):
    import datetime as dt

    from gmql_spark.operators.cover import cover

    T0 = dt.datetime(2026, 1, 1)
    m = lambda x: T0 + dt.timedelta(minutes=x)  # noqa: E731
    # 3 sources, overlap profile: [0,10):1 [10,20):2 [20,30):3 [30,40):1
    rows = [(m(0), m(30)), (m(10), m(40)), (m(20), m(30))]
    iv = spark.createDataFrame(rows, "start_ts timestamp, end_ts timestamp")
    out = cover(iv, min_acc="ALL", n_samples=3).collect()
    assert [(r.cover_start, r.cover_end, r.acc_max) for r in out] == [(m(20), m(30), 3)]
    out2 = cover(iv, min_acc="ANY", n_samples=3).collect()
    assert [(r.cover_start, r.cover_end) for r in out2] == [(m(0), m(40))]
    with pytest.raises(ValueError, match="n_samples"):
        cover(iv, min_acc="ALL")


def test_session_captures_no_python_call_sites(spark):
    """``get_spark`` turns DataFrame debugging off, so a Column call
    sends no Python call site to the JVM (``session`` docstring)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert not is_debugging_enabled()
