"""Task runner: the reference's execute lifecycle on Spark.

Mirrors ``TaskExecution.Execute`` (``core/sling/task_run.go:37-218``) →
read plan (``task_run_read.go``) → write plan (``task_run_write.go``), but the
"plan" is just a lazily-composed DataFrame, so pushdown/pruning happen in
Catalyst instead of SQL string assembly:

1. read source (files / SQL / JDBC)
2. apply select / where / limit-offset (reference pushes these into the
   generated SELECT; Catalyst pushes them into the scan)
3. incremental/backfill filter from the target watermark
4. transforms + column casing
5. mode-specific shaping (snapshot stamp, definition-only truncation)
6. write (overwrite/append/merge)

Returns a small result record (rows written, columns) like the reference's
task stats.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sling_cli_spark.config import (
    Config, MergeStrategy, Mode, delete_missing_config)
from sling_cli_spark.operators.incremental import (
    apply_limit_offset,
    backfill_filter,
    incremental_filter,
    max_watermark,
)
from sling_cli_spark.operators.select import apply_casing, apply_select
from sling_cli_spark.operators.transforms import apply_transforms
from sling_cli_spark.sinks.writers import prepare_for_mode, write_files
from sling_cli_spark.sources.files import read_source


def _exec_sql(spark, sql: str) -> None:
    """pre_sql/post_sql hooks accept MULTIPLE ;-separated statements
    (schemata.go ParseSQLMultiStatements semantics: strings/comments
    respected, procedural blocks stay whole); comment-only fragments
    are skipped."""
    from sling_cli_spark.dialects import (
        parse_sql_multi_statements, trim_sql_comments)

    for stmt in parse_sql_multi_statements(sql):
        try:
            bare = trim_sql_comments(stmt).strip()
        except ValueError:
            bare = stmt
        if bare:
            spark.sql(stmt)


def _as_datetime(v):
    """Coerce a watermark/backfill bound to datetime for partition-URI
    pruning; raises TypeError/ValueError for non-temporal keys (callers
    fall back to reading all partitions)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    if isinstance(v, str):
        return _dt.datetime.fromisoformat(v)
    raise TypeError(f"not a temporal bound: {v!r}")


@dataclass
class TaskResult:
    rows: int
    columns: list[str]
    mode: str
    watermark: object = None  # max(update_key) observed during the write
    merge_stats: dict | None = None  # file-granular merge: touched/kept
    bytes: int = 0  # staged/written bytes where cheaply known (run_db)


def build_read_plan(
    spark: SparkSession,
    cfg: Config,
    watermark=None,
    backfill_range: tuple | None = None,
    full_source: bool = False,
) -> DataFrame:
    """Steps 1-4: the full read-side logical plan (no action triggered).

    ``full_source=True`` skips the row-limiting steps (watermark/backfill/
    limit/offset) but keeps select/where/transforms/casing — used for the
    delete_missing keyset, which must see the WHOLE source snapshot, not
    the incremental batch (reference: core.delete_where_not_exist runs its
    own source scan, config.go:1838-1876).
    """
    if "{fields}" in (cfg.source.stream or ""):
        # `{fields}` placeholder in a SQL stream: the `select:` list
        # renders INTO the query and is consumed there (reference:
        # sling's fields placeholder, pinned by the corpus cases
        # r.75.fields_placeholder_select / r.95 tests 4+6) — pushdown
        # of projections AND select-expressions to the source DB
        import copy

        sel = [s for s in (cfg.source.select or [])]
        cfg = copy.copy(cfg)
        cfg.source = copy.copy(cfg.source)
        cfg.source.stream = cfg.source.stream.replace(
            "{fields}", ", ".join(sel) if sel else "*")
        cfg.source.select = []
    # lineage-incremental sources (r11): update_key defaults to the
    # format's lineage sequence column, so the generic watermark filter,
    # the write observation's max(update_key), and run_with_state's
    # advance all work unchanged — while the skip-filter below carries
    # the watermark into the incremental readers' METADATA pruning
    if getattr(cfg.source.options, "incremental_by_lineage", False) \
            and not cfg.source.update_key:
        from sling_cli_spark.sources.files import detect_format

        fmt = detect_format(cfg.source.stream or "", cfg.source.options)
        cfg.source.update_key = (
            "_row_commit_version" if fmt == "delta"
            else "_last_updated_sequence_number")
    # incremental watermark doubles as a Delta stats skip-filter: files
    # whose add.stats bound update_key <= watermark are never opened
    # (row-level filtering below stays authoritative)
    skip = None
    if (not full_source and watermark is not None and cfg.source.update_key
            and cfg.mode in (Mode.INCREMENTAL, Mode.CHANGE_CAPTURE)):
        skip = [(cfg.source.update_key, ">", watermark)]
    elif (not full_source and cfg.mode == Mode.BACKFILL and backfill_range
            and cfg.source.update_key):
        # backfill bounds prune exactly like the watermark: delta/iceberg
        # metadata file-skipping, DB sources a pushed WHERE range
        skip = [(cfg.source.update_key, ">=", backfill_range[0]),
                (cfg.source.update_key, "<=", backfill_range[1])]
    from sling_cli_spark.sources.files import has_mask_tokens

    if has_mask_tokens(cfg.source.stream or "") and not cfg.source.is_sql:
        # {part_*}-masked file source: expand the mask to the exact
        # partition URI list for the run's time range (backfill bounds,
        # or watermark..now for incremental) — partition pruning BEFORE
        # any filesystem listing; the row filters below stay
        # authoritative (reference: GeneratePartURIsFromRange)
        from sling_cli_spark.sources.files import read_masked_source

        import datetime as _dt

        def _naive_utc(d: _dt.datetime) -> _dt.datetime:
            # partition URIs are stamped in UTC; compare naive-UTC to
            # naive-UTC so (a) a UTC-negative driver clock never prunes
            # the newest hour/day partitions and (b) a tz-aware
            # watermark never hits aware-vs-naive TypeError inside
            # generate_part_uris_from_range
            if d.tzinfo is not None:
                d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return d

        rng = None
        try:
            if cfg.mode == Mode.BACKFILL and backfill_range:
                rng = (_naive_utc(_as_datetime(backfill_range[0])),
                       _naive_utc(_as_datetime(backfill_range[1])))
            elif (not full_source and watermark is not None
                    and cfg.mode in (Mode.INCREMENTAL,
                                     Mode.CHANGE_CAPTURE)):
                rng = (_naive_utc(_as_datetime(watermark)),
                       _dt.datetime.now(_dt.timezone.utc)
                       .replace(tzinfo=None))
        except (TypeError, ValueError):
            rng = None  # non-temporal key: glob all partitions
        df = read_masked_source(spark, cfg.source, time_range=rng)
    else:
        df = read_source(spark, cfg.source, skip_filters=skip)
    df = _maybe_infer(df, cfg)
    # reserved metadata columns by env flag (task.go:357-366 +
    # env.go ReservedFields; suite.cli ids 22-25): the stream URL rides
    # input_file_name() pre-shuffle, the row number the two-phase
    # partition-offset counter — both stay fully distributed
    envd = {**os.environ, **(cfg.env or {})}

    def _on(v):
        return str(v).lower() in ("true", "1", "yes")

    if _on(envd.get("SLING_STREAM_URL_COLUMN", "")) \
            and "_sling_stream_url" not in df.columns \
            and not cfg.source.is_sql \
            and not (cfg.source.conn or "").startswith(
                ("duckdb:", "sqlite:", "jdbc:", "api:")):
        from sling_cli_spark.operators.metadata import with_stream_url

        df = with_stream_url(df)
    if _on(envd.get("SLING_ROW_NUM_COLUMN", "")) \
            and "_sling_row_num" not in df.columns:
        from sling_cli_spark.operators.metadata import with_row_num

        df = with_row_num(df)
    if cfg.source.select:
        sel = list(cfg.source.select)
        if "@columns" in sel:
            # `@columns` expands to the DECLARED `columns:` names in
            # declaration order (replication.go expandSelectColumns;
            # the api_select_columns case-9/10 contract) — falling back
            # to df.columns inside apply_select only when no columns
            # block exists
            specs = _column_specs(cfg)
            if specs:
                from sling_cli_spark.operators.select import (
                    expand_select_columns)

                sel = expand_select_columns(sel, [s.name for s in specs])
        df = apply_select(df, sel)
    if cfg.source.where:
        df = df.filter(F.expr(cfg.source.where))
    if not full_source:
        if cfg.mode in (Mode.INCREMENTAL, Mode.CHANGE_CAPTURE) and cfg.source.update_key:
            df = incremental_filter(df, cfg.source.update_key, watermark)
        if cfg.mode == Mode.BACKFILL and backfill_range and cfg.source.update_key:
            df = backfill_filter(df, cfg.source.update_key, *backfill_range)
        if cfg.source.limit is not None or cfg.source.offset:
            if cfg.source.update_key:
                df = df.orderBy(cfg.source.update_key)
            df = apply_limit_offset(df, cfg.source.limit, cfg.source.offset)
    # batch_limit only splits the WRITE into batches (reference:
    # SetBatchLimit, task_run_write.go:347) — it never drops rows; it is
    # applied in write_files as maxRecordsPerFile.
    if cfg.source.options.transforms:
        df = apply_transforms(df, cfg.source.options.transforms)
    specs = _column_specs(cfg)
    if specs:
        from sling_cli_spark.operators.column_modifiers import (
            specs_constraints)
        from sling_cli_spark.operators.constraints import constraint_expr

        cons = specs_constraints(specs)
        if cons and cfg.source.options.constraint_mode == "skip":
            # reference skip mode: constraint-violating rows dropped
            keep = None
            for cname, expr in cons.items():
                if cname in df.columns:
                    c = constraint_expr(cname, expr)
                    keep = c if keep is None else (keep & c)
            if keep is not None:
                df = df.filter(keep)
    if cfg.target.options.column_casing:
        # snake/target/normalize casing folds to the TARGET dialect's
        # unquoted-identifier case (datatype.go ColumnCasing.Apply)
        tgt_dialect = None
        if (cfg.target.conn or "").startswith("jdbc:"):
            from sling_cli_spark.sources.jdbc import dialect_from_url

            tgt_dialect = dialect_from_url(cfg.target.conn)
        df = apply_casing(df, cfg.target.options.column_casing,
                          tgt_dialect)
    if cfg.target.options.column_typing:
        from sling_cli_spark.operators.typing_policy import apply_column_typing

        df = apply_column_typing(df, cfg.target.options.column_typing)
    return df


def _maybe_infer(df: DataFrame, cfg: Config) -> DataFrame:
    """Sample-based typing for all-string text sources (csv/tsv), plus the
    ``columns: {name: type}`` coercion surface — the reference runs its
    900-row classifier on every text stream (stream_processor.go).

    ``columns`` values may carry the full modifier DSL
    (``"bigint primary_key"``, ``"decimal(18,4) not_null | value >= 0"``,
    column_modifiers.go:44-151): the type slot feeds the cast here; key /
    constraint semantics are applied in :func:`run` via
    :func:`_column_specs`."""
    from sling_cli_spark.sources.files import detect_format

    opts = cfg.source.options
    specs = _column_specs(cfg)
    fmt = detect_format(cfg.source.stream or "", opts)
    if fmt != "csv":
        if specs:  # typed sources: coerce to the declared spec types
            from sling_cli_spark.operators.column_modifiers import (
                apply_column_specs)

            return apply_column_specs(df, specs)
        return df
    if not (opts.infer_schema or opts.columns):
        return df
    from sling_cli_spark.operators.inference import infer_and_cast

    overrides = {s.name: s.type.value for s in specs} if specs else None
    df = infer_and_cast(df, null_if=opts.null_if, overrides=overrides,
                        datetime_format=opts.datetime_format)
    if specs and any(s.precision is not None or s.length for s in specs):
        # refine to the declared decimal(p,s) widths (inference casts by
        # base type only)
        from sling_cli_spark.operators.column_modifiers import (
            apply_column_specs)

        df = apply_column_specs(df, specs)
    return df


def _column_specs(cfg: Config):
    """Parsed ``columns:`` modifier specs (cached on the config)."""
    from sling_cli_spark.operators.column_modifiers import parse_columns

    cols = cfg.source.options.columns
    if not cols:
        return []
    cached = getattr(cfg, "_column_specs", None)
    if cached is None:
        cached = parse_columns(cols)
        try:
            object.__setattr__(cfg, "_column_specs", cached)
        except Exception:
            pass
    return cached


class ConstraintViolationError(RuntimeError):
    """SLING_ON_CONSTRAINT_FAILURE=abort tripped on a violating row."""


def enforce_constraint_policy(cfg: Config, df: DataFrame) -> None:
    """Column-constraint failure policy (reference task_run.go:140-147 +
    env SLING_ON_CONSTRAINT_FAILURE; pinned by the replication corpus
    r.101/r.102: abort fails on the FIRST violation — even past the
    reference's 20-violation log cap — with nothing landed).

    ``skip`` is applied lazily inside build_read_plan (rows drop in the
    same scan); ``abort`` necessarily runs one eager validation pass
    over the batch BEFORE any write so the failure path never touches
    the target; ``warn`` (the default) stays free — rows flow through.
    """
    specs = _column_specs(cfg)
    if not specs:
        return
    from sling_cli_spark.operators.column_modifiers import specs_constraints

    cons = {c: e for c, e in specs_constraints(specs).items()
            if c in df.columns}
    if not cons:
        return
    mode = (cfg.source.options.constraint_mode
            or (cfg.env or {}).get("SLING_ON_CONSTRAINT_FAILURE")
            or os.environ.get("SLING_ON_CONSTRAINT_FAILURE")
            or "warn").lower()
    if mode != "abort":
        return
    from sling_cli_spark.operators.constraints import constraint_violations

    bad = {c: n for c, n in
           constraint_violations(df.select(*cons), cons).items() if n}
    if bad:
        raise ConstraintViolationError(
            f"constraint failure (abort mode): {bad}")


def run(
    spark: SparkSession,
    cfg: Config,
    target_df: DataFrame | None = None,
    backfill_range: tuple | None = None,
) -> TaskResult:
    """Execute a task config end-to-end against a file target.

    ``target_df`` supplies the current target contents for watermark probes
    and merge strategies (for file targets we read it from target.object).

    Row counts come from ``Observation`` piggybacked on the write — one
    materialization, never a separate ``count()`` pass over the plan
    (the reference counts rows as they stream for the same reason).

    The write action happens inside, so any DB-source staging dirs the
    read plan created are released on exit (sinks/db_load contract).
    """
    from sling_cli_spark.sinks.db_load import db_source_stages

    with db_source_stages():
        return _run_impl(spark, cfg, target_df, backfill_range)


def _run_impl(
    spark: SparkSession,
    cfg: Config,
    target_df: DataFrame | None = None,
    backfill_range: tuple | None = None,
) -> TaskResult:
    from pyspark.sql import Observation

    if cfg.target.options.ignore_existing and _target_has_data(spark, cfg):
        return TaskResult(rows=0, columns=[], mode=cfg.mode.value)

    if cfg.target.options.txn_app_id is not None \
            and cfg.target.options.txn_version is not None:
        # idempotent EL retry (delta: PROTOCOL.md §Transaction
        # Identifiers; iceberg: snapshot summary keys): a batch the
        # table already records commits NOTHING — the short-circuit
        # happens here, before any plan executes, so the result
        # honestly reports zero rows moved
        if _txn_already_committed(cfg):
            return TaskResult(rows=0, columns=[], mode=cfg.mode.value)

    specs = _column_specs(cfg)
    if specs and not cfg.source.primary_key:
        from sling_cli_spark.operators.column_modifiers import specs_primary_key

        pk = specs_primary_key(specs)
        if pk:  # columns: {id: "bigint primary_key"} defaults the stream PK
            cfg.source.primary_key = pk
    if specs and not cfg.target.options.json_columns:
        # columns: {payload: json} + a JSON target -> inline raw JSON
        # (reference: Column.Type==JsonType drives encodeRowAsJSONObject)
        from sling_cli_spark.types import ColumnType

        jcols = [s.name for s in specs if s.type == ColumnType.JSON]
        if jcols:
            cfg.target.options.json_columns = jcols

    if cfg.target.options.pre_sql:
        _exec_sql(spark, cfg.target.options.pre_sql)

    watermark = None
    if cfg.mode == Mode.INCREMENTAL and cfg.source.update_key and target_df is not None:
        watermark = max_watermark(target_df, cfg.source.update_key)
    if backfill_range is None and cfg.mode == Mode.BACKFILL \
            and cfg.source.options.range:
        # source.options.range: "start,end" (reference config.go backfill)
        backfill_range = tuple(
            s.strip() for s in cfg.source.options.range.split(",", 1))

    df = build_read_plan(spark, cfg, watermark=watermark,
                         backfill_range=backfill_range)
    enforce_constraint_policy(cfg, df)

    run_ts = datetime.now(timezone.utc)
    df = prepare_for_mode(df, cfg.mode, run_ts=run_ts)

    needs_merge = (
        cfg.mode in (Mode.INCREMENTAL, Mode.BACKFILL, Mode.CHANGE_CAPTURE)
        and cfg.source.primary_key
        and target_df is not None
    )
    update_key = cfg.source.update_key
    lake_fmt = _lake_merge_format(cfg)
    if needs_merge and lake_fmt:
        # Lake-format target: copy-on-write merge committed as a new
        # table version/snapshot — only touched files rewritten, readers
        # see atomic versions (sources/{delta,iceberg}_py; the jar-backed
        # MERGE INTO is the cluster equivalent)
        from sling_cli_spark.operators.evolution import reconcile_schemas
        from sling_cli_spark.sinks.writers import parse_partition_mask

        if lake_fmt == "delta":
            from sling_cli_spark.sources.delta_py import merge_delta as _merge
        elif cfg.target.options.eq_upsert:
            # Flink-style streaming upsert: the commit writes an
            # equality-delete file over the batch PKs + the batch as
            # new data, never scanning the target — O(batch) per
            # micro-batch at any table size (update_insert semantics
            # only; the MoR read pays until compaction)
            from sling_cli_spark.sources.iceberg_py import upsert_iceberg
            if cfg.target.options.merge_strategy not in (
                    None, MergeStrategy.UPDATE_INSERT):
                raise ValueError(
                    "eq_upsert implements update_insert semantics only")

            def _merge(spark_, uri_, df_, pk_, strategy=None,
                       update_key=None, branch="main"):
                return upsert_iceberg(spark_, uri_, df_, pk_,
                                      branch=branch)
        else:
            from sling_cli_spark.sources.iceberg_py import (
                merge_iceberg as _merge)

        uri, _ = parse_partition_mask(cfg.target.object or "", update_key)
        from sling_cli_spark.sources.iceberg_catalog import (
            is_catalog_url)

        audit = cfg.target.options.audit_branch
        if audit and lake_fmt != "iceberg":
            raise ValueError(
                "audit_branch (write-audit-publish) applies to iceberg "
                "targets — delta has no branches")
        if is_catalog_url(uri):
            # catalog-managed target: the SAME local merge machinery
            # runs on the resolved location, and every metadata
            # version it advances is swapped in under the pointer CAS
            # (losers roll back; reference commits merges through the
            # catalog transaction the same way)
            from sling_cli_spark.sources.iceberg_catalog import (
                open_catalog_url, run_committed)

            _cat, _ident = open_catalog_url(uri)
            _inner_merge = _merge

            def _merge(spark_, _url, df_, pk_, **kw2):
                return run_committed(
                    _cat, _ident,
                    lambda loc: _inner_merge(spark_, loc, df_, pk_,
                                             **kw2))
        if dict(df.dtypes) != dict(target_df.dtypes):
            target_df, df = reconcile_schemas(
                target_df, df,
                add_new_columns=cfg.target.options.add_new_columns,
                adjust_column_type=cfg.target.options.adjust_column_type)
        # the batch plan runs 3x (stats agg, touched probe, replacement
        # write) — cache it for the merge; batch-sized, never target-sized
        df = df.persist()
        try:
            vals = df.agg(*_write_aggs(cfg, df.columns)).collect()[0].asDict()
            mkw = {"branch": audit} if audit else {}
            stats = _merge(
                spark, uri, df, cfg.source.primary_key,
                strategy=(cfg.target.options.merge_strategy
                          or MergeStrategy.UPDATE_INSERT),
                update_key=update_key, **mkw)
            dmc = delete_missing_config(cfg.target.options.delete_missing)
            if dmc:
                # CoW delete: only files holding a PK absent from the
                # FULL source snapshot rewrite (same keyset contract as
                # the swap path — never the incremental batch)
                if lake_fmt == "delta":
                    from sling_cli_spark.sources.delta_py import (
                        delete_missing_delta as _dm_lake)
                else:
                    from sling_cli_spark.sources.iceberg_py import (
                        delete_missing_iceberg as _dm_lake)
                if is_catalog_url(uri):
                    from sling_cli_spark.sources.iceberg_catalog \
                        import open_catalog_url, run_committed
                    _dcat, _dident = open_catalog_url(uri)
                    _inner_dm = _dm_lake

                    def _dm_lake(spark_, _url, ks_, pk_, **kw3):
                        return run_committed(
                            _dcat, _dident,
                            lambda loc: _inner_dm(spark_, loc, ks_,
                                                  pk_, **kw3))
                keyset = build_read_plan(spark, cfg, full_source=True)
                if dmc["source_where"]:
                    keyset = keyset.filter(F.expr(dmc["source_where"]))
                stats["delete_missing"] = _dm_lake(
                    spark, uri, keyset, cfg.source.primary_key,
                    soft=dmc["type"] == "soft",
                    **mkw)
        finally:
            df.unpersist()
        if audit:
            # WAP: the merge (+delete_missing) landed on the audit
            # branch — gate it, then publish by fast-forward (a merge
            # rewrites files, so cherry-pick is never the fallback).
            # Catalog targets publish under the pointer CAS; the
            # staged branch is already pointer-visible (the wrapped
            # merge committed it), so a failing gate leaves main and
            # the pointer's main head untouched.
            if is_catalog_url(uri):
                from sling_cli_spark.sinks.writers import (
                    audit_gate_and_publish_catalog)

                audit_gate_and_publish_catalog(
                    spark, _cat, _ident, audit,
                    cfg.target.options.audit_sql)
            else:
                from sling_cli_spark.sinks.writers import (
                    audit_gate_and_publish)

                audit_gate_and_publish(
                    spark, uri, audit, cfg.target.options.audit_sql)
        result = TaskResult(rows=vals["rows"], columns=df.columns,
                            mode=cfg.mode.value, watermark=vals.get("wm"),
                            merge_stats=stats)
        if cfg.target.options.post_sql:
            _exec_sql(spark, cfg.target.options.post_sql)
        return result
    if needs_merge and _file_merge_eligible(spark, cfg, target_df, df):
        # copy-on-write at file granularity: only parquet files holding
        # matched PKs are rewritten — O(touched + batch), not O(target).
        # This is the 100x-scale posture; the swap path below rewrites
        # the whole target and remains the fallback for schema drift /
        # partition masks / delete_missing.
        from sling_cli_spark.operators.file_merge import merge_files
        from sling_cli_spark.sinks.writers import parse_partition_mask

        uri, _ = parse_partition_mask(cfg.target.object or "", update_key)
        # merge_files consumes the batch plan in two actions (touched-file
        # probe + replacement write) plus the stats agg, so an Observation
        # can't ride it; cache the batch for the merge — batch-sized,
        # never target-sized
        df = df.persist()
        try:
            vals = df.agg(*_write_aggs(cfg, df.columns)).collect()[0].asDict()
            stats = merge_files(
                spark, uri, df, cfg.source.primary_key,
                strategy=(cfg.target.options.merge_strategy
                          or MergeStrategy.UPDATE_INSERT),
                update_key=update_key,
            )
        finally:
            df.unpersist()
        result = TaskResult(rows=vals["rows"], columns=df.columns,
                            mode=cfg.mode.value, watermark=vals.get("wm"),
                            merge_stats=stats)
        if cfg.target.options.post_sql:
            _exec_sql(spark, cfg.target.options.post_sql)
        return result
    if needs_merge:
        from sling_cli_spark.operators.evolution import reconcile_schemas
        from sling_cli_spark.operators.merge import delete_missing, merge_dataframes
        from sling_cli_spark.sinks.writers import write_swap

        target_df, df = reconcile_schemas(
            target_df, df,
            add_new_columns=cfg.target.options.add_new_columns,
            adjust_column_type=cfg.target.options.adjust_column_type,
        )
        merged = merge_dataframes(
            target_df, df, cfg.source.primary_key,
            strategy=(cfg.target.options.merge_strategy
                          or MergeStrategy.UPDATE_INSERT),
            update_key=update_key,
        )
        dmc = delete_missing_config(cfg.target.options.delete_missing)
        if dmc:
            # NEVER delete against the incremental batch: after the first
            # run `df` is watermark-filtered, so its PK set is a tiny
            # subset of the source and a semi-join against it would wipe
            # the target. The keyset is a fresh full-source read.
            keyset = build_read_plan(spark, cfg, full_source=True)
            if dmc["source_where"]:
                keyset = keyset.filter(F.expr(dmc["source_where"]))
            merged = delete_missing(
                merged, keyset, cfg.source.primary_key,
                soft=dmc["type"] == "soft",
                where=dmc["target_where"] or None,
            )
        obs = Observation("write_stats")
        merged = merged.observe(obs, *_write_aggs(cfg, merged.columns))
        # the merged plan still reads the current target files — stage to a
        # temp path and swap, never overwrite a path being read
        write_swap(merged, cfg.target, update_key=update_key)
        vals = obs.get
        result = TaskResult(rows=vals["rows"], columns=merged.columns,
                            mode=cfg.mode.value, watermark=vals.get("wm"))
    else:
        obs = Observation("write_stats")
        df = df.observe(obs, *_write_aggs(cfg, df.columns))
        write_files(df, cfg.target, cfg.mode, update_key=update_key)
        vals = obs.get
        result = TaskResult(rows=vals["rows"], columns=df.columns,
                            mode=cfg.mode.value, watermark=vals.get("wm"))

    if cfg.target.options.post_sql:
        _exec_sql(spark, cfg.target.options.post_sql)
    return result


def _lake_merge_format(cfg: Config) -> str | None:
    """'delta' / 'iceberg' when the target routes merges through a table
    format's log/snapshot machinery (delete_missing included: it commits
    as a second CoW action touching only files with vanished PKs), else
    None."""
    obj = cfg.target.object or ""
    from sling_cli_spark.sources.iceberg_catalog import is_catalog_url

    if is_catalog_url(obj):
        return "iceberg"
    fmt = cfg.target.options.format or ""
    if fmt in ("delta", "iceberg"):
        return fmt
    from sling_cli_spark.sources.delta_py import is_delta_table
    from sling_cli_spark.sources.iceberg_py import is_iceberg_table
    if is_delta_table(obj):
        return "delta"
    if is_iceberg_table(obj):
        return "iceberg"
    return None


def _file_merge_eligible(
    spark: SparkSession, cfg: Config, target_df: DataFrame, df: DataFrame,
) -> bool:
    """File-granular merge preconditions: parquet target, no schema
    drift, no delete_missing (which must see every file). Hive-
    partitioned layouts are eligible when the batch carries the
    partition columns (merge_files prunes the probe to the batch's
    partitions); anything else falls back to the full-rewrite swap
    path."""
    opts = cfg.target.options
    if not opts.file_granular_merge or opts.delete_missing:
        return False
    if (opts.format or "parquet") != "parquet":
        return False
    obj = cfg.target.object or ""
    if "{part_" in obj:
        return False  # mask columns are derived at write time, not in df
    if dict(df.dtypes) != dict(target_df.dtypes):
        return False  # drift -> every file rewritten anyway; use swap
    from sling_cli_spark.operators.file_merge import (
        has_subdirs, partition_columns)
    from sling_cli_spark.sinks.writers import _detect_format, parse_partition_mask

    uri, _ = parse_partition_mask(obj, cfg.source.update_key)
    if _detect_format(uri) != "parquet":
        return False
    try:
        part_cols = partition_columns(spark, uri)
        if not part_cols and has_subdirs(spark, uri):
            return False  # non-hive subdir layout: shape unknown, swap
    except Exception:
        return False
    # layout partitioning must be derivable from the batch itself
    return all(c in df.columns for c in part_cols)


def _write_aggs(cfg: Config, columns: list[str]):
    """Observation aggregates riding the write: row count always; the new
    max(update_key) watermark too, so state-backed callers can advance
    their store without a second scan (run_with_state + target_df path)."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    uk = cfg.source.update_key
    if uk and uk in columns and cfg.mode in (
        Mode.INCREMENTAL, Mode.BACKFILL, Mode.CHANGE_CAPTURE,
    ):
        aggs.append(F.max(F.col(f"`{uk}`")).alias("wm"))
    return aggs


def run_with_state(
    spark: SparkSession,
    cfg: Config,
    state_store,
    stream_key: str | None = None,
    target_df: DataFrame | None = None,
) -> TaskResult:
    """State-backed incremental run (reference: ``sling state``,
    task_func.go:192-201): the watermark comes from the cross-run store
    instead of a target probe, and advances only after a successful write.

    Useful when the target can't answer max(update_key) cheaply (append
    streams, object stores, write-only sinks).
    """

    key = stream_key or cfg.source.stream or ""
    watermark = state_store.get(key)

    result = run(spark, cfg, target_df=target_df) if target_df is not None \
        else _run_with_watermark(spark, cfg, watermark)
    if result.watermark is not None:
        state_store.set(key, result.watermark)
    return result


def _run_with_watermark(
    spark: SparkSession, cfg: Config, watermark,
) -> TaskResult:
    """run() minus the target-side probe: the caller supplies the
    watermark (state store path). The NEW watermark rides the write's
    Observation — one materialization, no second source scan. The
    write happens inside, so DB-source staging dirs are released on
    exit (sinks/db_load contract)."""
    from sling_cli_spark.sinks.db_load import db_source_stages

    with db_source_stages():
        return _watermark_write(spark, cfg, watermark)


def _watermark_write(spark, cfg, watermark) -> TaskResult:
    from pyspark.sql import Observation

    df = build_read_plan(spark, cfg, watermark=watermark)
    run_ts = datetime.now(timezone.utc)
    df = prepare_for_mode(df, cfg.mode, run_ts=run_ts)
    obs = Observation("write_stats")
    aggs = [F.count(F.lit(1)).alias("rows")]
    uk = cfg.source.update_key
    if uk and cfg.mode == Mode.INCREMENTAL:
        aggs.append(F.max(F.col(f"`{uk}`")).alias("wm"))
    df = df.observe(obs, *aggs)
    write_files(df, cfg.target, cfg.mode, update_key=uk)
    vals = obs.get
    return TaskResult(rows=vals["rows"], columns=df.columns,
                      mode=cfg.mode.value, watermark=vals.get("wm"))


def _txn_already_committed(cfg: Config) -> bool:
    """True when the target table already records this batch's
    (txn_app_id, txn_version) — delta via SetTransaction actions,
    iceberg via snapshot summary keys. A missing or not-yet-created
    table never blocks the write."""
    obj = cfg.target.object
    app = cfg.target.options.txn_app_id
    want = int(cfg.target.options.txn_version)
    from sling_cli_spark.sources.iceberg_catalog import is_catalog_url

    if is_catalog_url(obj):
        from sling_cli_spark.sources.iceberg_catalog import (
            _read_meta, open_catalog_url)
        try:
            cat, ident = open_catalog_url(obj)
            meta = _read_meta(cat.load_table(ident))
        except Exception:
            return False  # not created yet — never blocks the write
        seen = max((int((s.get("summary") or {}).get("txn-version", -1))
                    for s in meta.get("snapshots") or []
                    if (s.get("summary") or {})
                    .get("txn-app-id") == app), default=None)
        return seen is not None and seen >= want
    try:
        from sling_cli_spark.sources.iceberg_py import is_iceberg_table

        if is_iceberg_table(obj):
            from sling_cli_spark.sources.iceberg_py import _current_metadata

            _, meta = _current_metadata(obj)
            seen = max((int((s.get("summary") or {})
                            .get("txn-version", -1))
                        for s in meta.get("snapshots") or []
                        if (s.get("summary") or {})
                        .get("txn-app-id") == app), default=None)
            return seen is not None and seen >= want
        from sling_cli_spark.sources.delta_py import last_txn_version

        seen = last_txn_version(obj, app)
        return seen is not None and seen >= want
    except FileNotFoundError:
        return False


def _target_has_data(spark: SparkSession, cfg: Config) -> bool:
    """ignore_existing probe (reference: config.go IgnoreExisting — skip
    the task when the target object already holds data)."""
    from sling_cli_spark.sources.iceberg_catalog import is_catalog_url

    if is_catalog_url(cfg.target.object):
        from sling_cli_spark.sources.iceberg_catalog import (
            _read_meta, open_catalog_url)
        try:
            cat, ident = open_catalog_url(cfg.target.object)
            meta = _read_meta(cat.load_table(ident))
        except Exception:
            return False
        cur = meta.get("current-snapshot-id")
        return cur is not None and int(cur) != -1
    from sling_cli_spark.sinks.writers import parse_partition_mask

    uri, _ = parse_partition_mask(
        cfg.target.object or "", cfg.source.update_key)
    try:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(uri)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            return False
        summary = fs.getContentSummary(p)
        return summary.getLength() > 0
    except Exception:
        return False
