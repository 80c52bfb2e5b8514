"""Partition criteria as Catalyst-prunable Column predicates.

Reference parity: the reference filters rows belonging to a set of
partitions with a row-level Scala lambda (util/DataFrameUtils.scala:18-67),
which is a black box to Catalyst — every file is scanned and filtered
row-by-row. Here the same OR-of-ANDs criteria become a ``Column``
expression, so partition pruning and parquet predicate pushdown apply:
at 100 TB the difference is reading a handful of partition directories
vs. the whole table. (See SURVEY.md §4 — this is the single biggest
designed-in perf win over the reference.)

A ``PartitionCriteria`` is ``list[tuple[str, value]]`` — one partition —
and operations take ``list[PartitionCriteria]`` (OR of partitions), the
same shape as the reference's ``Seq[Seq[(String, String)]]``.
"""

from __future__ import annotations

import re as _re
from functools import reduce
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PartitionCriteria = Sequence[tuple[str, Any]]

_CONDITION_RE = _re.compile(r"(.+?)[ ]*=[ ]*(.+)")


def parse_conditions(conditions: Sequence[Any]) -> list[tuple[str, Any]]:
    """Reference select_conditions: ["year=2019", "month=2"] →
    [("year","2019"), ("month","2")]
    (FixedSizeStringExtractorConfiguration.scala:95-99,
    MaterializationConfiguration.scala:119-123). Pair form
    [["year", 2019], ...] is accepted too for callers already on the
    structured shape."""
    out: list[tuple[str, Any]] = []
    for cond in conditions:
        if isinstance(cond, str):
            m = _CONDITION_RE.fullmatch(cond)
            if m is None:
                raise ValueError(f"Wrong select condition: {cond}")
            out.append((m.group(1).strip(), m.group(2).strip()))
        else:
            col, val = cond
            out.append((str(col), val))
    return out


def partition_predicate(criteria: Sequence[PartitionCriteria]) -> Column:
    """OR-of-ANDs Column predicate for a set of partitions.

    ``[(year, 2024), (month, 2)], [(year, 2024), (month, 3)]`` becomes
    ``(year = 2024 AND month = 2) OR (year = 2024 AND month = 3)`` —
    a plain Catalyst expression eligible for partition pruning.
    """
    if not criteria:
        return F.lit(False)

    def term(c, v):
        # NULL partition values (Hive default partition) must match
        # null-safely: `col == lit(None)` is never true, which silently
        # excludes the NULL partition's existing rows from append
        # reads — and dynamic overwrite then deletes them.
        if v is None:
            return F.col(c).isNull()
        if v == "":
            # '' shares the default-partition directory with NULL and is
            # read back from disk AS NULL — `col == ''` alone matches
            # nothing on disk (collect_partitions canonicalizes '' to
            # None; this covers criteria handed in by callers directly)
            return F.col(c).isNull() | (F.col(c) == F.lit(""))
        return F.col(c) == F.lit(v)

    ands = [
        reduce(lambda a, b: a & b, [term(c, v) for c, v in crit])
        for crit in criteria
        if crit
    ]
    if not ands:
        return F.lit(False)
    return reduce(lambda a, b: a | b, ands)


def sql_literal(v: Any) -> str:
    """One SQL literal, safely escaped — shared by every place that
    builds SQL strings (partition predicates, Delta merge conditions,
    ADD PARTITION specs), so quoting bugs can't diverge per call site."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # unquoted str(datetime) is a parse error / wrong arithmetic
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        # unquoted 2024-01-05 parses as integer subtraction (= 2018)
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, float) and v != v:
        return "CAST('NaN' AS DOUBLE)"  # str(nan) = 'nan', a bare name
    return str(v)


def partition_where_sql(criteria: Sequence[PartitionCriteria]) -> str:
    """The same predicate as an ANSI SQL string (for replaceWhere etc.).
    NULL values render as ``c IS NULL`` — ``c = NULL`` is never true,
    so a Delta replaceWhere would refuse the write (or strand stale
    rows) for the Hive default partition."""

    def term(c, v):
        if v is None:
            return f"{c} IS NULL"
        if v == "":
            # same default-partition aliasing as partition_predicate
            return f"({c} IS NULL OR {c} = '')"
        return f"{c} = {sql_literal(v)}"

    ors = [
        "(" + " AND ".join(term(c, v) for c, v in crit) + ")"
        for crit in criteria
        if crit
    ]
    return " OR ".join(ors) if ors else "false"


def collect_partitions(df: DataFrame, partition_columns: Sequence[str]) -> list[list[tuple[str, Any]]]:
    """Distinct partition-column value combinations present in ``df``.

    Reference: util/DataFrameUtils.scala:71-86. This is a deliberate
    executors→driver transfer: partition counts are small (thousands) even
    when row counts are huge, so a distinct+collect on just the partition
    columns is cheap and map-side combinable.

    Empty-string values are canonicalized to None: Spark writes both to
    the same ``__HIVE_DEFAULT_PARTITION__`` directory and reads them
    back as NULL, so ('col', '') criteria would (a) match nothing in
    on-disk append reads while dynamic overwrite replaces the shared
    default dir — silently losing existing NULL-partition rows — and
    (b) duplicate a ('col', None) criterion for the SAME rel path,
    aborting the commit on the second rename. Criteria are deduped
    after canonicalization.
    """
    if not partition_columns:
        return []
    rows = df.select(*partition_columns).distinct().collect()
    return _distinct_criteria(rows, partition_columns)


def observe_partitions(df: DataFrame, partition_columns: Sequence[str]):
    """``collect_partitions`` without a job of its own: returns
    ``(observed, written)``, where ``written()``, called after
    ``observed``'s first action (the write) finished, gives the criteria
    that action's own tasks saw, with the columns' original types."""
    obs = Observation()
    observed = df.observe(
        obs, F.collect_set(F.struct(*partition_columns)).alias("partitions")
    )
    return observed, lambda: _distinct_criteria(
        obs.get["partitions"], partition_columns
    )


def _distinct_criteria(rows, partition_columns: Sequence[str]) -> list[list[tuple[str, Any]]]:
    """Positional rows of partition values → canonical, deduped criteria."""
    out, seen = [], set()
    for row in rows:
        crit = tuple(
            (c, None if v == "" else v) for c, v in zip(partition_columns, row)
        )
        if crit not in seen:
            seen.add(crit)
            out.append(list(crit))
    return out


def is_empty(df: DataFrame) -> bool:
    """True iff the DataFrame has no rows — ``head(1)``, never a full
    ``count()`` (reference: util/DataFrameUtils.scala:97-99). Spark's
    own ``df.isEmpty()`` exists since 3.3; this wrapper keeps the
    reference's API name for callers porting from it."""
    return len(df.head(1)) == 0


def non_empty(df: DataFrame) -> bool:
    """Negation of ``is_empty`` (util/DataFrameUtils.scala:99)."""
    return not is_empty(df)


def add_missing_columns(df: DataFrame, target_schema: StructType) -> DataFrame:
    """Pad ``df`` with typed NULLs to match ``target_schema`` (name + order).

    Reference: util/DataFrameUtils.scala:88-95 — used by the
    schema-evolving load modes. A pure projection: no shuffle.
    """
    present = {f.name.lower() for f in df.schema.fields}
    cols = [
        F.col(f.name) if f.name.lower() in present else F.lit(None).cast(f.dataType).alias(f.name)
        for f in target_schema.fields
    ]
    return df.select(*cols)


def enforce_schema(df: DataFrame, target_schema: StructType) -> DataFrame:
    """Cast/select to exactly ``target_schema`` (reference:
    algo/shared/DataReshapingTask.scala:44-52). Pure projection."""
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in target_schema.fields])


def check_schema(df: DataFrame, target_schema: StructType) -> DataFrame:
    """Cast/select the target-schema fields *present* in ``df`` —
    the reference's lenient variant (DataReshapingTask.scala:44-52
    ``checkSchema``): target fields the DataFrame lacks are skipped
    instead of erroring, so in-load reshaping chains can run before all
    derived columns exist. Pure projection."""
    # case-insensitive like Spark's resolution (and the sibling
    # add_missing_columns): a df column 'ID' vs target field 'id' is
    # present, not silently droppable
    present = {c.lower() for c in df.columns}
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in target_schema.fields
            if f.name.lower() in present
        ]
    )
