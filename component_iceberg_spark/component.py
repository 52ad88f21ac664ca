"""Config-driven component runners — the engine's equivalent of the
reference's two entry points, so a reference user can port their configs
directly:

- :func:`run_extractor` ≙ ``ex-iceberg`` ``run()``
  (reference: ``components/ex-iceberg/src/component.py:27-86``):
  catalog table → snapshot/column/limit scan → CSV or Parquet export with
  the manifest (schema + base types + PK + incremental flag).
- :func:`run_writer` ≙ ``wr-iceberg`` ``run()``
  (reference: ``components/wr-iceberg/src/component.py:36-127``):
  typed CSV (or Parquet — the reference's TODO, real here) → namespace
  prep → replace/append/upsert commit, optionally partitioned.
- :func:`sync_action` ≙ the ``@sync_action`` metadata endpoints
  (``ex-iceberg/src/component.py:138-162``).

Where the reference streams Arrow batches through a bounded-memory DuckDB
stage, here the whole pipeline is ONE lazy Spark plan: scan options push
into the source, the export is a distributed write, and the commit is a
single atomic snapshot instead of one commit per 5M-row client batch.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from component_iceberg_spark.config import (
    SELECT_COLUMNS,
    WRITE_APPEND,
    WRITE_REPLACE,
    WRITE_UPSERT,
    ExtractorConfig,
    UserConfigError,
    WriterConfig,
)
from component_iceberg_spark.io import csv_io
from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.operators import scan
from component_iceberg_spark.typebridge import describe, stringify_complex


@dataclass
class ExtractResult:
    """What the reference writes as the out-table manifest
    (``ex-iceberg/src/component.py:68-76``)."""

    path: str
    format: str
    columns: list[tuple[str, str, str]]  # (name, spark_type, base_type)
    primary_key: list[str] = field(default_factory=list)
    incremental: bool = False


def _catalog(cfg):
    if cfg.catalog.uri:
        # REST catalog → the real Iceberg Spark connector, when its jar is
        # on the classpath (production path; same operator bodies — only
        # the source/sink swaps).
        from pyspark.sql import SparkSession

        from component_iceberg_spark.io.iceberg import (
            IcebergSparkCatalog,
            connector_available,
            iceberg_conf,
        )

        spark = SparkSession.getActiveSession()
        if spark is not None and connector_available(spark):
            for k, v in iceberg_conf(
                cfg.catalog.name, cfg.catalog.uri, cfg.catalog.warehouse,
                cfg.catalog.token,
            ).items():
                if k != "spark.sql.extensions":  # session-start-only conf
                    spark.conf.set(k, v)
            return IcebergSparkCatalog(cfg.catalog.name)
        raise UserConfigError(
            "REST catalogs need the Iceberg Spark connector jar "
            "(see io.iceberg.iceberg_conf); not available in this runtime"
        )
    if not cfg.catalog.warehouse:
        raise UserConfigError("catalog.warehouse is required")
    return SnapCatalog(cfg.catalog.warehouse)


def run_extractor(
    spark: SparkSession, cfg: ExtractorConfig, out_dir: str
) -> ExtractResult:
    """Catalog table → CSV/Parquet export, one lazy plan."""
    cfg.validate()
    cat = _catalog(cfg)
    src = cfg.source
    sid, stored = src.snapshot_id, None
    if isinstance(cat, SnapCatalog) and not cfg.custom_query:
        # the limit is planned from the manifest, as pyiceberg's
        # scan(limit=) does: a snapshot that stores no more rows than
        # the cap needs no single-partition limit stage before the write
        sid, stored = cat.stored_rows(src.namespace, src.table_name, sid)
    df = cat.read(spark, src.namespace, src.table_name, snapshot_id=sid)
    if cfg.custom_query:
        # declared in the reference UI, unimplemented there
        # (configRowSchema.json:94-107); here: plain Spark SQL over the table
        df.createOrReplaceTempView(src.table_name)
        df = spark.sql(cfg.custom_query)
    elif cfg.data_selection.mode == SELECT_COLUMNS:
        df = scan.scan_projection(df, cfg.data_selection.columns)
    if stored is None or stored > cfg.limit:
        df = scan.scan_limit(df, cfg.limit)

    dest = cfg.destination
    if dest.parquet_output:
        path = os.path.join(out_dir, f"{dest.file_name}.parquet")
        df.write.mode("overwrite").parquet(path)
        fmt = "parquet"
    else:
        path = os.path.join(out_dir, f"{dest.table_name}.csv")
        out = stringify_complex(df)  # nested → STRING only on the CSV path
        order_by, drop_after = None, None
        if dest.preserve_insertion_order:
            if dest.primary_key:
                order_by = dest.primary_key
            else:
                # reference parity: insertion order is preserved even
                # WITHOUT a primary key (ex-iceberg/src/component.py:106-107
                # — DuckDB's preserve_insertion_order default). Spark scans
                # are unordered, so materialize the scan order explicitly:
                # monotonically_increasing_id encodes (partition index,
                # in-partition offset) = file order for a parquet scan.
                from pyspark.sql import functions as F

                out = out.withColumn(
                    "_scan_order", F.monotonically_increasing_id()
                )
                order_by, drop_after = ["_scan_order"], ["_scan_order"]
        csv_io.write_csv(
            out, path, quote_all=True, order_by=order_by,
            single_file=bool(order_by), drop_after_sort=drop_after,
        )
        if drop_after:
            out = out.drop(*drop_after)
        fmt = "csv"
        df = out
    return ExtractResult(
        path=path,
        format=fmt,
        columns=describe(df),
        primary_key=dest.primary_key,
        incremental=dest.incremental,
    )


def run_writer(spark: SparkSession, cfg: WriterConfig) -> int:
    """CSV/Parquet input → snapshot-table commit; returns the snapshot id."""
    cfg.validate()
    cat = _catalog(cfg)
    dest = cfg.destination

    if cfg.input_parquet is not None:
        df = spark.read.parquet(cfg.input_parquet)
    else:
        ci = cfg.input_csv
        if cfg.destination.all_varchar or not ci.column_types:
            df = csv_io.read_csv_all_varchar(
                spark, ci.path, ci.columns,
                sep=ci.delimiter, quote=ci.enclosure, header=ci.header,
            )
        else:
            schema = T.StructType(
                [
                    T.StructField(c, T._parse_datatype_string(ci.column_types.get(c, "string")))
                    for c in ci.columns
                ]
            )
            df = csv_io.read_csv_typed(
                spark, ci.path, schema,
                sep=ci.delimiter, quote=ci.enclosure, header=ci.header,
            )

    part = dest.partition_by or None
    if part:
        # the reference parses partition_by but never applies it
        # (wr-iceberg/src/configuration.py:31); real here: cluster the data
        # files by the partition columns, then commit with the hive layout
        # so the manifest records the spec and reads prune directories
        df = df.repartition(*part)

    cat.create_namespace(dest.namespace)
    if dest.mode == WRITE_REPLACE:
        return cat.create_or_replace(
            dest.namespace, dest.table_name, df, partition_by=part
        )
    if dest.mode == WRITE_APPEND:
        if not cat.table_exists(dest.namespace, dest.table_name):
            return cat.create_or_replace(
                dest.namespace, dest.table_name, df, partition_by=part
            )
        return cat.append(dest.namespace, dest.table_name, df, partition_by=part)
    if dest.mode == WRITE_UPSERT:
        return cat.upsert(
            dest.namespace, dest.table_name, df, keys=dest.primary_key
        )
    raise UserConfigError(f"unknown mode {dest.mode!r}")


def sync_action(spark: SparkSession, cfg, action: str, **kwargs) -> list:
    """Metadata endpoints (``@sync_action`` parity): small driver-side
    catalog calls answered from manifests, no distributed work —
    except ``query_preview``, which runs the user's capped query."""
    if action == "list_table_columns":
        # the writer's EXTERNAL column list: Storage-API table detail over
        # HTTP, table id from the input mapping
        # (``wr-iceberg/src/component.py:154-166``)
        from component_iceberg_spark.io.storage_api import StorageApiClient

        table_id = kwargs.get("table_id")
        if not table_id:
            raise UserConfigError(
                "Can list only columns from input tables, not files."
            )
        client = kwargs.get("client") or StorageApiClient(
            os.environ.get("KBC_URL", ""), os.environ.get("KBC_TOKEN", "")
        )
        return client.list_table_columns(table_id)
    cat = _catalog(cfg)
    if action == "list_namespaces":
        return cat.list_namespaces()
    if action == "list_tables":
        return cat.list_tables(kwargs["namespace"])
    if action == "list_snapshots":
        return cat.snapshot_rows(kwargs["namespace"], kwargs["table"])[0]
    if action == "list_columns":
        sch = cat.schema(spark, kwargs["namespace"], kwargs["table"])
        return [(f.name, f.dataType.simpleString()) for f in sch.fields]
    if action == "query_preview":
        # Preview of the custom-query mode, declared in the reference UI
        # schema (ex-iceberg configRowSchema.json:94-107) but unimplemented
        # there: run the user's SQL over the configured table. The preview
        # is READ-ONLY and capped:
        #   - the statement must parse as a single query (any command —
        #     DROP/INSERT/CREATE/SET/... — is rejected before execution),
        #   - it may reference ONLY the registered table view (no
        #     datasource-path reads like parquet.`/any/path`),
        #   - the row cap is applied as an outer LIMIT in the plan, and
        #     the result is fetched via toLocalIterator-free take() so the
        #     driver materializes at most `limit` rows. (The cap bounds
        #     the *result*, not the scan: an aggregation still scans the
        #     table — that is inherent to previewing an aggregate.)
        # Same view name the custom-query run() path registers, so a
        # previewed query is valid verbatim in the run config.
        namespace, table = kwargs["namespace"], kwargs["table"]
        query = kwargs.get("query") or f"SELECT * FROM {table}"  # noqa: S608
        limit = int(kwargs.get("limit", 100))
        df = cat.read(spark, namespace, table)
        df.createOrReplaceTempView(table)
        rows = _run_readonly_query(spark, query, {table}, limit).take(limit)
        return [tuple(r) for r in rows]
    raise UserConfigError(f"unknown sync action: {action!r}")


# Statement classes a preview must never run. Matched against every node's
# simple class name in the PARSED (unexecuted) plan — spark.sql() executes
# command plans eagerly, so validation has to happen at the parser level,
# before any spark.sql() call sees the text.
_PREVIEW_BANNED = re.compile(
    r"Command|Insert|Create|Drop|Alter|Delete|Update|Merge|Truncate|"
    r"SetOperation$|^Set|Use|Show|Analyze|Cache|Uncache|Refresh|Repair|"
    r"Load|Write|AddArtifact|Call|"
    # SELECT TRANSFORM ... USING '<cmd>' parses to ScriptTransformation —
    # a plain-looking query node that runs an arbitrary shell command on
    # the driver host (no-serde script transform works without Hive)
    r"ScriptTransformation"
)

# Expression-level escape hatches: these FUNCTIONS parse as a plain
# Project yet reach out of the query sandbox — `java_method`/`reflect`
# invoke arbitrary static JVM methods (System.exit kills the driver,
# System.getenv reads secrets). Matched against UnresolvedFunction names
# in the parsed expression trees, case-insensitively.
_PREVIEW_BANNED_FUNCS = frozenset({"reflect", "java_method"})


def _run_readonly_query(
    spark: SparkSession, query: str, allowed_views: set[str], limit: int
) -> DataFrame:
    """Validate-and-run for preview SQL: a single SELECT/CTE query that
    references only the allowed temp views, wrapped in an outer LIMIT so
    the driver never materializes more than ``limit`` rows. (The cap
    bounds the result, not the scan — previewing an aggregate still scans
    the table; that is inherent.)

    Validation inspects the *parsed logical plan*, never regexes over the
    SQL text: any DDL/DML/utility statement parses to a command-shaped
    node (rejected), and every ``UnresolvedRelation`` must name an allowed
    view — which also rejects datasource-path reads such as
    ``parquet.`/any/path``` (those parse as a relation named
    ``parquet./any/path``, which is not on the allow-list)."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        plan = parser.parsePlan(query)
    except Exception as e:  # parse error → user error, not a stack trace
        raise UserConfigError(f"preview query invalid: {e}") from e

    node_classes: list[str] = []
    relations: list[str] = []
    ctes: list[str] = []
    banned_funcs: list[str] = []

    def _walk_expr(expr) -> None:
        cls = expr.getClass().getSimpleName()
        if cls == "UnresolvedFunction":
            try:  # Spark 3.2+ keeps the raw name as nameParts: Seq[String]
                parts = expr.nameParts()
                fname = parts.apply(parts.length() - 1)
            except Exception:  # older API: FunctionIdentifier
                fname = expr.name().funcName()
            if fname.lower() in _PREVIEW_BANNED_FUNCS:
                banned_funcs.append(fname)
        # Subquery expressions (scalar subquery, IN/EXISTS, lateral) carry
        # whole query plans INSIDE the expression tree — walk those plans
        # with the full validator, or a banned relation/function could
        # hide in `(SELECT java_method(...) FROM t)`.
        try:
            _walk(expr.plan())
        except Exception:
            pass  # not a subquery expression
        kids = expr.children()
        for i in range(kids.length()):
            _walk_expr(kids.apply(i))

    def _walk(node) -> None:
        cls = node.getClass().getSimpleName()
        node_classes.append(cls)
        if cls == "UnresolvedRelation":
            ident = node.multipartIdentifier()
            relations.append(
                ".".join(ident.apply(i) for i in range(ident.length()))
            )
        if cls == "UnresolvedTableValuedFunction":
            # range()/explode()-style TVFs never name the allowed view, and
            # future TVFs could read external paths — reject wholesale.
            node_classes.append("Command")  # reuse the banned-class path
        if cls == "UnresolvedWith":  # CTE definitions: (name, subplan)
            rels = node.cteRelations()
            for i in range(rels.length()):
                ctes.append(rels.apply(i)._1())
        # expression trees hang off every plan node: filters, projections,
        # aggregates — where UnresolvedFunction and subqueries live
        try:
            exprs = node.expressions()
            for i in range(exprs.length()):
                _walk_expr(exprs.apply(i))
        except Exception:
            pass
        # children() covers query subtrees; subquery *expressions* hold
        # their plans in expression trees — enumerated above.
        kids = node.children()
        for i in range(kids.length()):
            _walk(kids.apply(i))
        try:  # CTE definition subplans (not in children() for UnaryNode)
            inner = node.innerChildren()
            for i in range(inner.length()):
                _walk(inner.apply(i))
        except Exception:  # protected on some node types — treeString
            pass           # fallback below still sees those relations

    _walk(plan)
    # Subquery expressions (IN (SELECT...), scalar subqueries): their plans
    # are not in children(); the parsed tree prints them, so scan the plan
    # string for any relation tokens we did not visit. Cheap belt-and-
    # braces: UnresolvedRelation nodes render as `'UnresolvedRelation
    # [name]` in treeString.
    for m in re.finditer(r"'UnresolvedRelation \[([^\]]+)\]", plan.toString()):
        relations.append(m.group(1).replace(", ", "."))

    for cls in node_classes:
        if _PREVIEW_BANNED.search(cls):
            raise UserConfigError(
                f"preview accepts a single SELECT query only (got {cls})"
            )
    if banned_funcs:
        raise UserConfigError(
            f"preview rejects JVM-reflection functions: {sorted(set(banned_funcs))}"
        )
    allowed = {v.lower() for v in allowed_views} | {c.lower() for c in ctes}
    for name in relations:
        if name.lower() not in allowed:
            raise UserConfigError(
                f"preview may only reference {sorted(allowed_views)}, "
                f"got {name!r}"
            )
    q = query.rstrip().rstrip(";")
    # newline before the closing paren: a query ending in a `-- comment`
    # must not swallow the wrapper's `) __preview LIMIT n`
    return spark.sql(f"SELECT * FROM ({q}\n) __preview LIMIT {int(limit)}")
