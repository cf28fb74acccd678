"""Data-quality validation operators — the reference's gate job, fused.

The reference runs one Spark job per check: 19 per-field null-count
jobs, 2 anti-join FK checks, 2 duplicate-key checks, 3 empty-guards
(reference: docker-images/validation/validate.py:87-172), each
re-scanning CSVs without caching.  Ours restructures the plans
(SURVEY §4.2-2) without changing semantics:

- ``null_counts``: ONE aggregation pass per table computes every
  non-nullable column's null count (``sum(when(isNull,1),0)`` fused in
  a single ``agg``) — at 100 TB this is the difference between 1 scan
  and 19.
- ``fk_violations``: left-anti join child→parent (validate.py:135-156);
  the parent side is key-only + distinct, so it broadcasts.
- ``duplicate_keys``: groupBy(key).count().filter(count>1)
  (validate.py:158-172) — two-phase hash agg, no extra scan of parents.
- ``validate_tables``: the full battery with the reference's verdict
  semantics (conjunction of all checks; offender keys reported).  Each
  table's empty guard, null counts, duplicate-row count and (for the
  streaming gate) cross-batch key hits are ONE aggregate query; the
  offender keys of a failing check are a second query, run only then.

Exit-code signaling (validate.py:177-189) lives in the CLI wrapper
(plans/cli.py), keeping operators side-effect free.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import non_nullable_columns


def null_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One-row DataFrame: per-column null counts, single scan.

    Columns default to the DataFrame's declared non-nullable fields
    (the reference's contract: nullability == null-check list,
    validate.py:104-129).
    """
    cols = columns if columns is not None else non_nullable_columns(df.schema)
    if not cols:
        raise ValueError("no columns to null-check")
    return df.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}_nulls")
            for c in cols
        ]
    )


def fk_violations(child: DataFrame, parent: DataFrame, child_key: str, parent_key: str) -> DataFrame:
    """Child rows whose FK has no match in parent (validate.py:135-151).

    Left-anti join; the parent side is pruned to its distinct key so it
    stays broadcast-sized even when the parent table is wide.
    """
    parent_keys = parent.select(F.col(parent_key).alias("__pk")).dropDuplicates()
    return child.join(
        F.broadcast(parent_keys), child[child_key] == F.col("__pk"), "left_anti"
    )


def orphan_keys(child: DataFrame, parent: DataFrame, child_key: str, parent_key: str) -> DataFrame:
    """Distinct offending FK values, for error reporting (validate.py:142,154)."""
    return fk_violations(child, parent, child_key, parent_key).select(child_key).dropDuplicates()


def duplicate_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key values appearing more than once (validate.py:158-172).

    Returns (key_cols..., count) — HAVING expressed as filter-over-agg,
    exactly the reference's plan shape.
    """
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("count")).filter(F.col("count") > 1)


@dataclass
class CheckResult:
    table: str
    check: str
    passed: bool
    detail: str = ""
    offenders: list = field(default_factory=list)


@dataclass
class ValidationReport:
    checks: list[CheckResult] = field(default_factory=list)
    rows: dict[str, int] = field(default_factory=dict)

    @property
    def passed(self) -> bool:
        return all(c.passed for c in self.checks)

    def add(self, *args, **kwargs) -> None:
        self.checks.append(CheckResult(*args, **kwargs))


def _table_stats(
    df: DataFrame, nn: list[str], pk: list[str] | None, seen: DataFrame | None
) -> dict:
    """Every per-table count the battery needs, in ONE query: rows,
    per-column null counts, ``count(*) - count_distinct(pk)`` (the rows
    beyond the first of each key; a struct so a null key counts as one
    value, as ``duplicate_keys`` groups it) and, when ``seen`` holds
    prior keys, the batch rows whose key is among them.  The seen-key
    probe is a left_semi sub-aggregate cross-joined onto the one-row
    main aggregate, so a repeated history key cannot fan rows out."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    aggs += [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}_nulls")
        for c in nn
    ]
    if pk:
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(F.struct(*pk))).alias("__dup_rows")
        )
    stats = df.agg(*aggs)
    if seen is not None:
        stats = stats.crossJoin(
            df.join(seen, pk, "left_semi").agg(F.count(F.lit(1)).alias("__seen_rows"))
        )
    return stats.collect()[0].asDict()


def validate_tables(
    tables: dict[str, DataFrame],
    schemas: dict[str, T.StructType],
    primary_keys: dict[str, list[str]],
    foreign_keys: list[tuple[str, str, str, str]],
    max_offenders: int = 20,
    seen_keys: dict[str, DataFrame] | None = None,
) -> ValidationReport:
    """Full battery: empty-guard, fused null checks, FK integrity, key
    uniqueness.  Verdict = conjunction (reference validate.py:100-175);
    unlike the reference we do NOT short-circuit, so one run reports
    every defect class.

    Each table's counts come from one aggregate query
    (``_table_stats``); offender keys are collected only for a failing
    uniqueness check.  ``seen_keys`` maps a table to the primary keys
    accepted by earlier arrivals: its ``unique_key_cross_batch`` check
    is reported only when every other check passed, which is how the
    incremental gate (streaming/pipeline.py) has always reported it.
    Tables the caller has not pinned are cached for the FK checks and
    unpersisted at the end; a caller's pin is left alone.
    """
    report = ValidationReport()
    seen_keys = seen_keys or {}
    pinned = [df.cache() for df in tables.values() if df.storageLevel == StorageLevel.NONE]
    seen_rows = {}
    for name, df in tables.items():
        nn = non_nullable_columns(schemas[name]) if name in schemas else []
        nn = [c for c in nn if c in df.columns]
        pk = primary_keys.get(name)
        pk = pk if pk and all(c in df.columns for c in pk) else None
        stats = _table_stats(df, nn, pk, seen_keys.get(name) if pk else None)
        report.rows[name] = stats.pop("__rows")
        if not report.rows[name]:
            report.add(name, "non_empty", False, "table is empty")
            continue
        report.add(name, "non_empty", True)
        if "__seen_rows" in stats:
            seen_rows[name] = stats.pop("__seen_rows")
        if nn:
            bad = {f"{c}_nulls": stats[f"{c}_nulls"] for c in nn if stats[f"{c}_nulls"]}
            report.add(
                name,
                "null_check",
                not bad,
                f"null counts in non-nullable columns: {bad}" if bad else "",
            )
        if pk:
            dups = (
                duplicate_keys(df, pk).limit(max_offenders).collect()
                if stats["__dup_rows"]
                else []
            )
            report.add(
                name,
                "unique_key",
                not dups,
                f"duplicate keys on {pk}" if dups else "",
                offenders=[tuple(r[c] for c in pk) for r in dups],
            )
    for child, child_key, parent, parent_key in foreign_keys:
        if child not in tables or parent not in tables:
            continue
        offenders = (
            orphan_keys(tables[child], tables[parent], child_key, parent_key)
            .limit(max_offenders)
            .collect()
        )
        report.add(
            child,
            f"fk_{child_key}->{parent}.{parent_key}",
            not offenders,
            f"orphan {child_key} values" if offenders else "",
            offenders=[r[child_key] for r in offenders],
        )
    if report.passed:
        for name, hits in seen_rows.items():
            report.add(
                name,
                "unique_key_cross_batch",
                hits == 0,
                "batch contains keys already accepted in a prior arrival" if hits else "",
            )
    for df in pinned:
        df.unpersist()
    return report
