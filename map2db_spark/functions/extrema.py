"""Exact string extrema without SortAggregate (r16, guide §7.2).

A ``min()``/``max()`` over a STRING column has an immutable
aggregation buffer (UnsafeRow strings cannot be updated in place), so
Spark plans Sort + SortAggregate for the whole aggregate — every
other aggregate in the same groupBy (counts, sums) is dragged through
a per-task sort of the full input slice.  The conv() hex->long
bijection that fixed the minhash chunks cannot fix the md5-min
family: a 128-bit lexicographic extremum has NO exact fixed-width
encoding (2^128 has 39 digits; DECIMAL(38) tops out two bits short),
and chunk minima do not compose.

The exact no-sort decomposition used here instead SPLITS the
aggregate:

- fixed-width aggregates stay a plain hash-aggregating groupBy
  (partial combine, no sort);
- the string extremum becomes a row_number() top-1 window over a
  NARROW (group, value) projection, which Spark 3.5+/4 plans with
  WindowGroupLimit pushdown: each map task keeps only its running
  top-1 row per group BEFORE the exchange — the same partial
  reduction a partial aggregate performs — so the exchange carries
  at most (groups x map tasks) narrow rows and nothing is globally
  sorted;
- a LEFT null-safe join from the aggregated groups reattaches the
  extremum.  The top-1 window emits at most one row per group, so the
  join keeps every ``aggs`` row exactly once: a group with no ``base``
  rows keeps its aggregates with a NULL extremum instead of silently
  vanishing, and ``base`` groups absent from ``aggs`` are dropped;
  eqNullSafe keeps NULL group keys (groupBy treats NULL as a group,
  plain equality would drop it).

``asc_nulls_last`` / ``desc_nulls_last`` ordering reproduces
min()/max()'s NULL-ignoring semantics exactly: a mixed group picks
the non-NULL extremum, an all-NULL group yields NULL.  Ties are
value-identical by definition (equal strings).

The global (ungrouped) form goes through orderBy().limit(1) —
TakeOrderedAndProject, a per-partition top-1 merge with no sort and
no SortAggregate — attached with a LEFT join so an EMPTY input still
yields the single (count=0, extremum=NULL) row min() would produce.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _ordered_value(value: Column | str, alias: str, ascending: bool):
    col = F.col(value) if isinstance(value, str) else value
    named = col.alias(alias)
    order = (
        F.col(alias).asc_nulls_last()
        if ascending
        else F.col(alias).desc_nulls_last()
    )
    return named, order


def attach_group_extremum(
    aggs: DataFrame,
    base: DataFrame,
    group_cols: Sequence[str],
    value: Column | str,
    alias: str,
    ascending: bool = True,
) -> DataFrame:
    """Append per-group min (``ascending=True``) or max of ``value``
    to ``aggs`` (one row per group over ``group_cols``), computed from
    ``base`` via a WindowGroupLimit top-1 window instead of a string
    aggregate.  ``aggs`` must carry ``group_cols``.  Every ``aggs``
    row is kept (LEFT join): a group with no ``base`` row gets a NULL
    extremum, as min()/max() over no values would give."""
    named, order = _ordered_value(value, alias, ascending)
    narrow = base.select(*group_cols, named)
    w = Window.partitionBy(*group_cols).orderBy(order)
    renamed = {g: f"__ext_{g}" for g in group_cols}
    ext = (
        narrow.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            *[F.col(g).alias(renamed[g]) for g in group_cols], alias
        )
    )
    cond = None
    for g in group_cols:
        clause = aggs[g].eqNullSafe(ext[renamed[g]])
        cond = clause if cond is None else cond & clause
    return aggs.join(ext, cond, "left").select(*aggs.columns, alias)


def attach_global_extremum(
    aggs: DataFrame,
    base: DataFrame,
    value: Column | str,
    alias: str,
    ascending: bool = True,
) -> DataFrame:
    """Append the global min/max of ``value`` (computed from ``base``
    via TakeOrderedAndProject top-1) to the single-row ``aggs`` frame.
    LEFT join: an empty ``base`` yields extremum NULL, matching
    min()'s one-row (count=0, NULL) output on empty input."""
    named, order = _ordered_value(value, alias, ascending)
    one = base.select(named).orderBy(order).limit(1)
    return aggs.join(one, F.lit(True), "left").select(
        *aggs.columns, alias
    )
