"""Iceberg-style hidden partitioning transforms for the snapshot layer.

Iceberg's partition spec maps a *source column* through a *transform*
(``bucket[N]``, ``truncate[W]``, ``day``/``month``/``year``, ``identity``)
to a derived partition value; queries filter on the source column and the
engine converts those predicates into partition predicates itself — users
never see or name the partition column (reference semantics: pyiceberg
``PartitionSpec`` consumed via ``wr-iceberg/src/component.py:130-142``).

This module is the Spark re-expression:

- the derived column is a codegen'd expression (crc32 / substring /
  date_format — no Python in the write path),
- the data lands hive-partitioned by the derived column, so Spark's own
  ``PartitionFilters`` prune directories at file-listing time,
- :func:`derive_predicates` rewrites simple source-column conjuncts into
  derived-column conjuncts **driver-side** (the bucket transform is
  crc32, chosen over Murmur3 precisely because ``zlib.crc32`` reproduces
  it in Python without a Spark job).

Transform monotonicity rules (what rewrites are sound):

- identity: every comparison carries over unchanged.
- bucket[N]: equality only (hashing destroys order).
- truncate[W] / day / month / year: monotone non-decreasing maps, so
  ``col >= lit`` → ``p >= T(lit)``, ``col <= lit`` → ``p <= T(lit)``,
  and equality → equality on the transformed value. Strict inequalities
  relax to their non-strict transform (the residual source filter keeps
  exactness; the partition predicate only needs to be a superset).
"""

from __future__ import annotations

import datetime as _dt
import zlib
from dataclasses import dataclass
from typing import TYPE_CHECKING

# parsing and predicate rewriting are plain Python, so the Spark-free
# manifest layer imports this module; pyspark loads only where a
# transform expression is built
if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame

_TRANSFORMS = ("identity", "bucket", "truncate", "day", "month", "year")


@dataclass(frozen=True)
class PartitionField:
    source: str
    transform: str  # one of _TRANSFORMS
    param: int | None = None  # N for bucket, W for truncate

    @property
    def name(self) -> str:
        """Derived (hidden) column name — namespaced so it can't collide
        with user columns and is recognizable for dropping on read."""
        if self.param is not None:
            return f"_pt_{self.transform}{self.param}_{self.source}"
        return f"_pt_{self.transform}_{self.source}"


def parse_spec(spec: list[str]) -> list[PartitionField]:
    """Parse ``["bucket(8, o_custkey)", "day(o_orderdate)", "col"]`` into
    fields. A bare column name means identity."""
    fields = []
    for s in spec:
        s = s.strip()
        if "(" not in s:
            fields.append(PartitionField(source=s, transform="identity"))
            continue
        fn, _, rest = s.partition("(")
        fn = fn.strip().lower()
        args = [a.strip() for a in rest.rstrip(")").split(",")]
        if fn not in _TRANSFORMS:
            raise ValueError(f"unknown partition transform: {fn!r}")
        if fn in ("bucket", "truncate"):
            if len(args) != 2:
                raise ValueError(f"{fn} needs (param, column): {s!r}")
            fields.append(
                PartitionField(source=args[1], transform=fn, param=int(args[0]))
            )
        else:
            if len(args) != 1:
                raise ValueError(f"{fn} takes one column: {s!r}")
            fields.append(PartitionField(source=args[0], transform=fn))
    return fields


def _bucket_col(col: Column, n: int) -> Column:
    # crc32 over the value's UTF-8 string rendering: deterministic,
    # JVM-computed on write, and reproducible driver-side via zlib.crc32
    # for literal rewriting. Sound for int/string/date/timestamp sources
    # (types whose Spark string cast is canonical).
    from pyspark.sql import functions as F

    return F.pmod(F.crc32(col.cast("string").cast("binary")), F.lit(n)).cast("int")


def derived_column(field: PartitionField, col: Column) -> Column:
    from pyspark.sql import functions as F

    t = field.transform
    if t == "identity":
        return col
    if t == "bucket":
        return _bucket_col(col, field.param)
    if t == "truncate":
        # strings truncate to a prefix; integers floor to a multiple of W
        # (both monotone). Type is resolved at analysis: substring on
        # non-strings would mangle ordering, so integers route through
        # floor-div. The caller picks by source dtype via truncate_kind.
        raise ValueError("use derived_column_typed for truncate")
    if t == "day":
        return F.date_format(col, "yyyy-MM-dd")
    if t == "month":
        return F.date_format(col, "yyyy-MM")
    if t == "year":
        return F.date_format(col, "yyyy").cast("int")
    raise ValueError(f"unknown transform {t}")


def apply_spec(df: DataFrame, fields: list[PartitionField]) -> DataFrame:
    """Add the hidden partition columns (skipping identity: the source
    column itself is the partition column there)."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for f in fields:
        if f.transform == "identity":
            continue
        src = F.col(f.source)
        if f.transform == "truncate":
            if dtypes.get(f.source) in ("string",):
                expr = F.substring(src, 1, f.param)
            else:
                expr = (F.floor(src / F.lit(f.param)) * F.lit(f.param)).cast("bigint")
        else:
            expr = derived_column(f, src)
        df = df.withColumn(f.name, expr)
    return df


def partition_columns(fields: list[PartitionField]) -> list[str]:
    return [f.source if f.transform == "identity" else f.name for f in fields]


def _transform_literal(field: PartitionField, lit) -> object | None:
    """Apply the transform to a literal driver-side. Returns None when the
    literal can't be transformed faithfully (→ no partition predicate)."""
    t = field.transform
    if t == "identity":
        return lit
    if t == "bucket":
        return zlib.crc32(str(lit).encode("utf-8")) % field.param
    if t == "truncate":
        if isinstance(lit, str):
            return lit[: field.param]
        if isinstance(lit, int):
            return (lit // field.param) * field.param
        return None
    if t in ("day", "month", "year"):
        if isinstance(lit, str):
            try:
                d = _dt.datetime.fromisoformat(lit)
            except ValueError:
                return None
        elif isinstance(lit, (_dt.datetime, _dt.date)):
            d = lit
        else:
            return None
        if t == "day":
            return d.strftime("%Y-%m-%d")
        if t == "month":
            return d.strftime("%Y-%m")
        return d.year
    return None


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def derive_predicates(
    fields: list[PartitionField], conjuncts: list[tuple[str, str, object]]
) -> list[tuple[str, str]]:
    """Rewrite simple source-column conjuncts into ``(derived_column,
    sql_predicate)`` pairs. The predicate is a *superset* filter (the
    original predicate still applies to rows); it exists purely so Spark's
    PartitionFilters prune directories the way Iceberg converts row
    filters to partition-spec filters. Callers apply a pair only when the
    derived column is actually present in the scan — after stats pruning
    or spec evolution, a generation of directories may not carry it."""
    by_source: dict[str, list[PartitionField]] = {}
    for f in fields:
        if f.transform != "identity":
            by_source.setdefault(f.source, []).append(f)
    preds: list[tuple[str, str]] = []
    for col, op, lit in conjuncts:
        for f in by_source.get(col, []):
            tl = _transform_literal(f, lit)
            if tl is None:
                continue
            if op == "=":
                core = f"{f.name} = {_sql_lit(tl)}"
            elif f.transform == "bucket":
                continue  # bucket supports equality only
            elif op in (">", ">="):
                core = f"{f.name} >= {_sql_lit(tl)}"
            elif op in ("<", "<="):
                core = f"{f.name} <= {_sql_lit(tl)}"
            else:
                continue
            # NULL-safe: after partition-spec evolution, data directories
            # written under an older spec lack this derived column (it
            # reads as NULL through the mergeSchema union) — those rows
            # must pass the partition predicate and be filtered only by
            # the exact source-column filter. Spark still treats the OR
            # as a partition-only predicate, so pruning holds for dirs
            # that do have the column.
            preds.append((f.name, f"({f.name} IS NULL OR {core})"))
    return preds
