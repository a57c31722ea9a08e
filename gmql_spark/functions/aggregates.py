"""Aggregate building blocks (all JVM-side Catalyst expressions).

These replace GMQL's aggregate-function factory objects
(``GMQL-Server/.../DefaultRegionsToRegionFactory.scala:13-170`` — COUNT,
SUM, MIN, MAX, AVG, MEDIAN, BAG, BAGD as (merge fun, finalize funOut)
closures over JVM heap objects). Here every aggregate is a Catalyst
expression that gets partial/final (map-side combine) planning for free,
plus a transcript-specific addition: value-count histogram maps. Exact
percentiles live in ``operators.rollup.exact_percentiles``.

GMQL null semantics preserved: aggregates skip nulls
(``DefaultRegionsToRegionFactory.scala:58-126`` counts nonNull separately);
``counts_map`` drops null categories, ``count(col)`` vs ``count(*)``
mirrors the (count, nonNullCount) finalization pair.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def counts_map(col: Column | str, values: Sequence[str] | None = None) -> Column:
    """Aggregate: value-count histogram as ``map<string,bigint>``.

    Fast path (``values`` given): one ``count_if`` per known category —
    pure whole-stage-codegen, no collection. Generic path: fold a
    ``collect_list`` into a map with higher-order functions (still
    JVM-side; per-group list bounded by rows-per-window).
    Null inputs are never counted; zero-count categories are absent.
    """
    c = F.col(col) if isinstance(col, str) else col
    if values is not None:
        return known_counts_map(values, [F.count_if(c == F.lit(v)) for v in values])
    lst = F.array_sort(F.collect_list(c))
    empty = F.expr("cast(map() as map<string,bigint>)")
    return F.aggregate(
        lst,
        empty,
        lambda m, x: F.map_concat(
            F.map_filter(m, lambda k, _: k != x),
            F.create_map(x, F.coalesce(F.element_at(m, x), F.lit(0).cast("long")) + F.lit(1)),
        ),
    )


def known_counts_map(values: Sequence[str], counts: Sequence[Column]) -> Column:
    """The histogram map of a KNOWN category domain from one count per
    category (``counts[i]`` counts ``values[i]``), its entries sorted by
    category as every other counts map's are; zero-count categories are
    absent."""
    values, counts = zip(*sorted(zip(values, counts), key=lambda vc: vc[0]))
    m = F.map_from_arrays(F.array(*[F.lit(v) for v in values]), F.array(*counts))
    return F.map_filter(m, lambda _, v: v > 0)


def bag(col: Column | str, sep: str = ",") -> Column:
    """Aggregate: GMQL's BAG — all non-null values, sorted, joined into
    one string (``DefaultRegionsToRegionFactory.scala:127-148``
    semantics: the multiset of values rendered deterministically).
    Nulls are skipped (collect_list drops them); an all-null group
    yields the empty string, matching the reference's empty-bag render.
    Values are stringified first so the sort is lexicographic and
    matches DuckDB's ``string_agg(... ORDER BY ...)`` oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.collect_list(c.cast("string"))), sep)


def bagd(col: Column | str, sep: str = ",") -> Column:
    """Aggregate: GMQL's BAGD — DISTINCT non-null values, sorted, joined
    (``DefaultRegionsToRegionFactory.scala:149-170``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_sort(F.collect_set(c.cast("string"))), sep)

