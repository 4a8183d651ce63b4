"""Replication compile: one YAML -> N task configs -> N runs.

Re-expresses the reference's replication lifecycle
(``core/sling/replication.go:1117-1354`` UnmarshalReplication/Compile,
``:293-518`` wildcard expansion, ``:1503-1594`` stream ordering) as a
driver-side loop that builds one ``Config`` per stream and executes them
with ``runner.run`` through a bounded thread pool (one at a time when
stream order is observable — see :func:`run_replication`). Each
stream's DataFrame plan is still fully distributed — the pool only
overlaps job submission.

YAML shape (same surface as the reference):

    source: local
    target: local
    defaults:
      mode: full-refresh
      target_options: {format: parquet}
    streams:
      /data/in/orders.parquet: {}
      /data/in/events_*.jsonl:          # wildcard -> N streams
        mode: incremental
        update_key: ts
      /data/in/skipme.csv: {disabled: true}
    env:
      MY_VAR: x
"""

from __future__ import annotations

import contextlib
import functools
import glob as _glob
import os
import re
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

import yaml

from sling_cli_spark.config import (
    Config, Mode, Source, Target, render_env, render_vars, runtime_vars)


@dataclass
class ReplicationConfig:
    source: str | None
    target: str | None
    defaults: dict[str, Any] = field(default_factory=dict)
    streams: dict[str, dict[str, Any] | None] = field(default_factory=dict)
    env: dict[str, str] = field(default_factory=dict)

    hooks: dict[str, list] = field(default_factory=dict)
    # atomic: true -> every stream's catalog pointer commit defers to
    # ONE commit_many at the end (all streams land or none); requires
    # every target to be a catalog:// URL
    atomic: bool = False

    @classmethod
    def from_yaml(cls, text_or_path: str) -> "ReplicationConfig":
        text = text_or_path
        if os.path.exists(text_or_path):
            with open(text_or_path) as f:
                text = f.read()
        d = render_env(yaml.safe_load(text))
        # `{ expr }` rendering over the env namespace (reference renders
        # the whole replication payload through the Evaluator); runtime
        # vars like {stream_table} are unprefixed and stay for
        # compile_replication's render_vars pass
        from sling_cli_spark.expressions import Evaluator

        env = dict(os.environ)
        env.update(d.get("env") or {})
        d = Evaluator(state={"env": env}, keep_missing=True).render(d)
        return cls(
            source=d.get("source"),
            target=d.get("target"),
            defaults=d.get("defaults") or {},
            streams=d.get("streams") or {},
            env=d.get("env") or {},
            hooks=d.get("hooks") or {},
            atomic=bool(d.get("atomic")),
        )


def expand_wildcards(streams: dict[str, Any],
                     defaults: dict[str, Any] | None = None,
                     ) -> dict[str, Any]:
    """Expand glob patterns to concrete file streams (reference:
    replication.go:293-518 — DB `schema.*` uses schemata queries; file
    globs use the filesystem listing; both fan out to N streams with the
    pattern's own overrides).

    The reference's gate (replication.go:306-332): a glob stream
    expands per-file only when the effective OBJECT template carries
    stream runtime vars (``{stream_file_name}`` etc.) — an object
    without vars reads all matched files as ONE stream (r.55's
    ``*.json`` -> one table vs r.07's per-file tables); an explicit
    ``single: true`` also keeps the pattern whole."""
    out: dict[str, Any] = {}
    defaults = defaults or {}
    for pattern, overrides in streams.items():
        o = {**defaults, **(overrides or {})}
        obj = str(o.get("object") or "")
        expand = (any(ch in pattern for ch in "*?[")
                  and not o.get("no_expand") and not o.get("single")
                  and (not obj or "{stream_" in obj or "{part_" in obj))
        if expand:
            prefix = "file://" if pattern.startswith("file://") else ""
            matches = sorted(_glob.glob(pattern.removeprefix("file://")))
            if matches:
                for m in matches:
                    out[prefix + m] = dict(overrides or {})
                continue
        out[pattern] = dict(overrides or {})
    return out


def expand_db_wildcards(
    streams: dict[str, Any],
    run_sql,
    dialect_name: str = "duckdb",
) -> dict[str, Any]:
    """Expand ``schema.*`` / ``schema.prefix*`` patterns against a
    database's catalog (reference: replication.go:293-518 — the DB
    branch runs the dialect's schemata query and fans out to N
    table streams carrying the pattern's overrides).

    ``run_sql(sql) -> iterable of rows`` executes on the source
    database — over JDBC on a cluster; tests inject an in-process
    DuckDB executor. The discovery SQL comes from the dialect pack's
    ``metadata`` templates, so each engine's catalog quirks live with
    its other templates.
    """
    import fnmatch

    from sling_cli_spark.dialects import get_dialect

    d = get_dialect(dialect_name)
    out: dict[str, Any] = {}
    for pattern, overrides in streams.items():
        parts = pattern.split(".")
        tbl_pat = parts[-1]
        if len(parts) == 2 and any(ch in tbl_pat for ch in "*?[") \
                and not (overrides or {}).get("no_expand"):
            schema = parts[0]
            rows = list(run_sql(d.metadata_sql("tables", schema=schema)))
            names = [r[1] if not isinstance(r, str) else r for r in rows]
            matched = [n for n in names
                       if fnmatch.fnmatchcase(n.lower(), tbl_pat.lower())]
            for n in sorted(matched):
                out[f"{schema}.{n}"] = dict(overrides or {})
            continue  # unmatched pattern -> dropped, like the reference
        out[pattern] = dict(overrides or {})
    return out


def _merge_columns(defaults_cols: dict | None,
                   stream_cols: dict | None) -> dict:
    """Stream-level ``columns:`` vs defaults (reference semantics pinned
    by tests/replications/r.107.columns_merge_defaults.yaml):

    - plain keys REPLACE the defaults set entirely (legacy behavior)
    - ``+col: type`` keys MERGE over the defaults
    - ``+col: ~`` (null) UNSETS the inherited default
    """
    if not stream_cols:
        return dict(defaults_cols or {})
    plus = {k[1:]: v for k, v in stream_cols.items() if k.startswith("+")}
    plain = {k: v for k, v in stream_cols.items() if not k.startswith("+")}
    out = dict(defaults_cols or {}) if (plus and not plain) else dict(plain)
    for k, v in plus.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = v
    return out


def _merged(defaults: dict[str, Any], overrides: dict[str, Any]) -> dict[str, Any]:
    """defaults <- overrides, one level deep for the *_options dicts
    (reference merges stream config over defaults the same way,
    replication.go:1223-1310); ``columns`` follows the +prefix merge
    contract (:func:`_merge_columns`)."""
    merged = dict(defaults)
    for k, v in overrides.items():
        if k in ("source_options", "target_options") and isinstance(v, dict):
            base = dict(defaults.get(k) or {})
            base.update(v)
            merged[k] = base
        elif k == "columns" and isinstance(v, dict):
            merged[k] = _merge_columns(defaults.get(k), v)
        else:
            merged[k] = v
    return merged


def compile_replication(rc: ReplicationConfig) -> list[Config]:
    """YAML defaults+streams -> one Config per enabled stream."""
    cfgs: list[Config] = []
    for stream, overrides in expand_wildcards(
            rc.streams, defaults=rc.defaults).items():
        o = _merged(rc.defaults, overrides or {})
        if o.get("disabled"):
            continue
        # default object = the stream's basename WITH extension (the
        # {stream_file_name} var itself now excludes the extension, per
        # the reference's var semantics — config.go:1230-1239)
        object_tmpl = o.get("object") or (
            os.path.basename((stream or "").rstrip("/")) or
            "{stream_file_name}")
        # a stream-level `sql:` makes the SOURCE a query (reference:
        # ReplicationStreamConfig.SQL -> Source.Query,
        # replication_test.go "sql_query"); the stream keeps its NAME
        # for {stream_*} runtime vars
        source_stream = o.get("sql") or stream
        src_opts = dict(o.get("source_options") or {})
        if o.get("columns"):
            # stream/defaults-level `columns:` DSL rides source options
            # (reference: ReplicationStreamConfig.Columns -> cfg.Target
            # columns; this engine parses it from source.options.columns)
            src_opts["columns"] = o["columns"]
        if o.get("transforms") and "transforms" not in src_opts:
            src_opts["transforms"] = o["transforms"]
        cfg = Config.from_dict({
            "source": {
                "conn": rc.source,
                "stream": source_stream,
                "primary_key": o.get("primary_key"),
                "update_key": o.get("update_key"),
                "select": o.get("select"),
                "where": o.get("where"),
                "limit": o.get("limit"),
                "options": src_opts,
            },
            "target": {
                "conn": rc.target,
                "object": object_tmpl,
                "options": o.get("target_options") or {},
            },
            "mode": o.get("mode") or "full-refresh",
            "env": rc.env,
        })
        if o.get("sql"):
            # {stream_*} vars derive from the stream NAME, not the query
            import copy

            vcfg = copy.copy(cfg)
            vcfg.source = copy.copy(cfg.source)
            vcfg.source.stream = stream
            cfg.target.object = render_vars(
                cfg.target.object, runtime_vars(vcfg))
            # the SQL body renders the same runtime vars (reference:
            # `sql: select * from {stream_schema}.{stream_table}`,
            # r.52.parquet_file_splitting.yaml)
            cfg.source.stream = render_vars(
                cfg.source.stream, runtime_vars(vcfg))
        else:
            cfg.target.object = render_vars(
                cfg.target.object, runtime_vars(cfg))
        if not cfg.target.conn or cfg.target.conn.lower() == "local":
            # sling semantics: an extension-named object on a FILE
            # target is ONE file (p.17 `object: output.csv`; DB-export
            # targets like folder/table.csv) — this engine's layout
            # switch is the `single` option, defaulted here unless the
            # stream configured it explicitly
            if cfg.target.options.single is False and re.search(
                    r"\.(csv|tsv|json|jsonl|ndjson|parquet|xlsx)$",
                    (cfg.target.object or "")) \
                    and "single" not in (o.get("target_options") or {}):
                cfg.target.options.single = True
        if o.get("hooks"):
            # STREAM-level hooks (reference ReplicationStreamConfig.Hooks)
            # ride the compiled config; run_replication fires them
            # around THIS stream only
            object.__setattr__(cfg, "_stream_hooks", o["hooks"])
        # the stream's NAME (the yaml key) — distinct from source.stream
        # when `sql:` replaces the query text; keys results and {runs.*}
        object.__setattr__(cfg, "_stream_name", stream)
        cfgs.append(cfg)
    return cfgs


def _local_conn_base(name: str | None, env: dict) -> str | None:
    """Base path of a local connection DEFINED IN ENV (reference env.yaml
    connection specs: ``NAME: { type: local, url: file:///base }``)."""
    if not name or "://" in name or "/" in name:
        return None
    raw = env.get(name) or env.get(name.upper()) or env.get(name.lower())
    if not isinstance(raw, str) or "type" not in raw:
        return None
    try:
        spec = yaml.safe_load(raw)
    except Exception:
        return None
    if isinstance(spec, dict) and spec.get("type") == "local":
        return (spec.get("url") or "").removeprefix("file://") or None
    return None


class _InlinePool:
    """Width-1 stand-in for the stream pool: ``submit`` runs the stream
    on the calling thread before it returns."""

    def submit(self, fn, *args) -> Future:
        fut: Future = Future()
        try:
            fut.set_result(fn(*args))
        except Exception as e:
            fut.set_exception(e)
        return fut

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class _StreamPool(ThreadPoolExecutor):
    """Bounded stream pool. Each submission captures the calling
    thread's Spark local properties and tags (job group, scheduler pool)
    and reapplies them on the worker, so every stream's jobs carry
    them. The JVM-side active session is not among them, so a worker
    has none (see ``fsio.JvmFS.for_path``)."""

    def __init__(self, spark, width: int):
        super().__init__(max_workers=width,
                         thread_name_prefix="sling-stream")
        self._spark = spark

    def submit(self, fn, *args) -> Future:
        from pyspark.util import inheritable_thread_target

        return super().submit(inheritable_thread_target(self._spark)(fn),
                              *args)


def _fanout_width(spark, rc: ReplicationConfig, compiled: list[Config],
                  shared_db) -> int:
    """How many compiled streams run at once (see run_replication)."""
    if len(compiled) < 2 or rc.atomic or rc.env.get("SLING_STATE") \
            or any((rc.hooks or {}).values()) \
            or any(getattr(c, "_stream_hooks", None) for c in compiled):
        return 1
    objects = set()
    for cfg in compiled:
        src, tgt = cfg.source.conn or "", cfg.target.conn or ""
        if cfg.source.is_sql or src.startswith(
                ("duckdb:", "sqlite:", "jdbc:", "api:")) \
                or tgt.startswith("sqlite:") \
                or (tgt.startswith("duckdb:") and shared_db(cfg) is not None) \
                or (tgt, cfg.target.object) in objects:
            return 1
        objects.add((tgt, cfg.target.object))
    return min(len(compiled), spark.sparkContext.defaultParallelism,
               os.cpu_count() or 1)


def run_replication(spark, rc: ReplicationConfig, base_output: str = "",
                    connections=None, runtime=None,
                    continue_on_error: bool = False):
    """Execute every compiled stream; returns {stream: TaskResult}.

    Fan-out: the compiled streams go through ONE bounded thread pool
    (the reference's pool mode; each stream's DataFrame plan is still
    fully distributed, the pool overlaps their driver-side fixed costs
    and small jobs). Its width is ``min(len(streams),
    sc.defaultParallelism, os.cpu_count())``: more concurrent streams
    than task slots only queue on the scheduler, and much of a stream's
    work stays on the driver (inference, Delta log handling, a DuckDB
    ingest, DB-load staging copies), which does not grow with the
    executors a cluster adds. The width drops to 1 — every stream
    then runs inline on the calling thread, in order — whenever stream
    order can be observed:

    - replication or per-stream hooks exist: ``pre``/``post`` fire
      around each stream in order and read ``{run.*}`` as the CURRENT
      stream's run;
    - ``atomic``: the open ``CatalogTransaction`` is process-global
      (``iceberg_catalog._ACTIVE_TXN``), not per thread;
    - any stream reads an API or DB source (or SQL): API queues link
      producer and consumer streams, and DB sources export through
      one handle;
    - the target is SQLite: one writer per file, and its connections
      are bound to the thread that opened them;
    - the DB handle is shared through ``connections``: one DuckDB
      connection is not safe for concurrent use;
    - ``SLING_STATE`` is set: the watermark store is one shared table;
    - two streams write the same object: the later write must win.

    Bookkeeping stays in stream order at any width: the ``{runs.*}``
    entries are created in order before each submit (their
    ``start_time`` is reset when the stream actually starts), and
    ``results`` plus the ``execution.status`` counters fill in order as
    streams are settled. Fail-fast (the default): once a stream fails no
    further stream starts (a queued one drops its ``{runs.*}`` entry,
    as if never reached), in-flight streams finish, then the first
    failure in stream order is raised. With ``continue_on_error`` every
    failure is recorded into ``execution.status.error`` and the run
    proceeds (the reference's loop keeps going so end hooks can assert
    on the failure). An interrupt (Ctrl-C) on the calling thread
    likewise starts no further stream; in-flight streams finish before
    it propagates.

    Replication-level hooks (reference: HookMap, ``hooks.go:49-56`` +
    ``replication.go:518-560``): ``start`` runs before the first stream,
    ``end`` after the last, ``pre``/``post`` around every stream — each a
    pipeline-step list sharing ONE :class:`PipelineRuntime` (so ``into:``
    results persist from start hooks to end hooks under ``{store.*}``),
    with ``{source.name}``/``{target.name}`` and the run's
    ``{execution.status.error}`` exposed exactly like the reference's
    hook namespaces. Per-stream runtime vars appear as
    ``{stream_name}``/``{object_name}``.

    DB-conn targets (``duckdb:``) route through the DB-load lifecycle
    (``sinks.db_load.run_db``) — the handle comes from ``connections``
    (registered under the conn name or URL) or opens fresh per stream.

    ``atomic: true`` defers every stream's catalog pointer commit to ONE
    commit_many at the end (all streams land or none; always
    fail-fast); its per-stream ``post`` hooks fire only after that
    commit lands.
    """
    from sling_cli_spark.plans.pipeline import PipelineRuntime, run_pipeline
    from sling_cli_spark.runner import run

    hooks = rc.hooks or {}
    rt = runtime or PipelineRuntime(connections=connections, env=rc.env)
    status = rt.state_extra.setdefault(
        "execution", {"status": {"error": 0, "success": 0}})["status"]
    rt.state_extra.setdefault("source", {"name": rc.source})
    rt.state_extra.setdefault("target", {"name": rc.target})
    # per-stream run-state registry, `{runs.<stream_key>.*}` in hook
    # expressions (reference RunState — the executable spec is
    # tests/replications/r.57.run_state_test.yaml: id, stream{name,
    # schema,table}, object{full_name,schema,table}, total_rows,
    # total_bytes, status success/error, start/end_time, duration,
    # error, config)
    runs_ns = rt.state_extra.setdefault("runs", {})

    def _run_entry(cfg):
        import uuid

        from sling_cli_spark.dialects import get_dialect, parse_table_name

        d = get_dialect("duckdb")
        stream_name = getattr(cfg, "_stream_name", None) \
            or cfg.source.stream or ""
        sp = parse_table_name(stream_name, d.name)
        op = parse_table_name(cfg.target.object or "", d.name)
        key = re.sub(r"\W", "_", stream_name).strip("_")
        entry = {
            "id": uuid.uuid4().hex,
            "stream": {"name": stream_name,
                       "schema": sp["schema"], "table": sp["name"],
                       "full_name": d.quote_table(stream_name)
                       if not sp["sql"] else stream_name},
            "object": {"full_name": d.quote_table(cfg.target.object or "")
                       if not op["sql"] else (cfg.target.object or ""),
                       "schema": op["schema"], "table": op["name"],
                       "name": op["name"]},
            "config": {"mode": cfg.mode.value,
                       "object": cfg.target.object or ""},
            "status": "running", "total_rows": 0, "total_bytes": 0,
            "start_time": time.time(), "end_time": None,
            "duration": None, "error": None,
        }
        runs_ns[key] = entry
        return key, entry

    def _finish_entry(entry, result=None, error=None):
        entry["end_time"] = time.time()
        entry["duration"] = round(entry["end_time"] - entry["start_time"], 6)
        if error is not None:
            entry["status"] = "error"
            entry["error"] = str(error)
        else:
            entry["status"] = "success"
            entry["total_rows"] = result.rows
            entry["total_bytes"] = getattr(result, "bytes", 0)
            # the watermark the incremental run used/observed
            # (r.57: `!is_null(run.incremental_value)`)
            entry["incremental_value"] = result.watermark

    def _shared_db(cfg):
        return (rt.connections.get(cfg.target.conn)
                or rt.connections.get((rc.target or "").lower()))

    def _run_stream(cfg):
        if (cfg.target.conn or "").startswith(("duckdb:", "sqlite:")):
            from sling_cli_spark.sinks.db_load import open_db, run_db

            db = _shared_db(cfg)
            own = db is None
            if own:
                db = open_db(cfg.target.conn)
            # pre_merge/post_merge stream hooks bracket the merge
            # statement itself (reference HookMap; r.61's
            # SET IDENTITY_INSERT ON/OFF pair)
            sh = getattr(cfg, "_stream_hooks", None) or {}

            def _mk(stage):
                steps = sh.get(stage)
                if not steps:
                    return None

                def fire():
                    run_pipeline(spark, steps, env=rc.env, runtime=rt)
                return fire

            # SLING_STATE: CONN/schema -> the DB-backed watermark
            # store replaces the target max() probe (p.17 contract)
            state_spec = (cfg.env or {}).get("SLING_STATE") \
                or rc.env.get("SLING_STATE")
            store = None
            if state_spec and cfg.mode == Mode.INCREMENTAL \
                    and cfg.source.update_key:
                from sling_cli_spark.sinks.db_load import (
                    open_state_store)

                def _resolve(name):
                    n = str(name).lower()
                    return (rt.connections.get(n)
                            or (open_db(rt.conn_urls[n])
                                if n in rt.conn_urls else None))

                store = open_state_store(state_spec,
                                         resolve_conn=_resolve)
            try:
                skey = getattr(cfg, "_stream_name", None) \
                    or cfg.source.stream or ""
                wm = store.get(skey) if store is not None else None
                res = run_db(spark, cfg, db,
                             merge_hooks=(_mk("pre_merge"),
                                          _mk("post_merge")),
                             watermark_override=wm,
                             want_new_watermark=store is not None)
                if store is not None and res.watermark is not None:
                    store.set(skey, res.watermark)
                return res
            finally:
                if own:
                    db.close()
        return run(spark, cfg)

    def run_hooks(stage: str, extra_env: dict | None = None):
        steps = hooks.get(stage) or []
        if steps:
            run_pipeline(spark, steps, env={**rc.env, **(extra_env or {})},
                         runtime=rt)

    run_hooks("start")
    results = {}
    # stream SQL re-renders AFTER start hooks over the hook-engine
    # namespaces — {execution.start_time} (shared across streams),
    # {store.*} set by start hooks, {state.<id>.*} step metadata
    # (reference cfg.RenderStreamSQL, sling_run.go; executable spec
    # r.116.stream_sql_runtime_vars.yaml)
    from datetime import datetime as _dt

    from sling_cli_spark.expressions import Evaluator as _Ev

    status_ns = rt.state_extra["execution"]
    status_ns.setdefault("start_time", _dt.now().isoformat())
    _sql_ev = _Ev(state={"env": {**rt.env, **rc.env},
                         "store": rt.store, "state": rt.state_ns,
                         **rt.state_extra}, keep_missing=True)
    rc = ReplicationConfig(
        source=rc.source, target=rc.target, defaults=rc.defaults,
        streams={k: ({**v, "sql": _sql_ev.render_string(v["sql"])}
                     if isinstance(v, dict) and v.get("sql") else v)
                 for k, v in rc.streams.items()},
        env=rc.env, hooks=rc.hooks, atomic=rc.atomic)
    # a conn NAME whose env value is a local-connection spec
    # (`{ type: local, url: file:///base }`) resolves to a BASE PATH:
    # relative stream/object paths anchor there (reference issue #712,
    # p.17.unc_local_path)
    env_all = {**{k: str(v) for k, v in rt.env.items()}, **rc.env}
    src_base = _local_conn_base(rc.source, env_all)
    tgt_base = _local_conn_base(rc.target, env_all)
    if src_base is not None:
        rc = ReplicationConfig(
            source=None, target=rc.target, defaults=rc.defaults,
            streams={(s if os.path.isabs(s) or "://" in s
                      else os.path.join(src_base, s)): v
                     for s, v in rc.streams.items()},
            env=rc.env, hooks=rc.hooks, atomic=rc.atomic)
    if tgt_base is not None:
        rc = ReplicationConfig(
            source=rc.source, target=None, defaults=rc.defaults,
            streams=rc.streams, env=rc.env, hooks=rc.hooks,
            atomic=rc.atomic)
        base_output = base_output or tgt_base
    if (rc.source or "").startswith("duckdb:") and any(
            any(ch in s for ch in "*?[") for s in rc.streams):
        # DB-source wildcards expand against the live catalog
        # (replication.go:293-518 — the reference's schemata query fan-
        # out; an explicit stream entry overrides its wildcard match,
        # so `schema.t3: {disabled: true}` still drops t3)
        from sling_cli_spark.sinks.db_load import open_duckdb

        src_db = rt.connections.get(rc.source)
        own_src = src_db is None
        if own_src:
            src_db = open_duckdb(rc.source)
        try:
            rc = ReplicationConfig(
                source=rc.source, target=rc.target, defaults=rc.defaults,
                streams=expand_db_wildcards(rc.streams, src_db.fetch_all),
                env=rc.env, hooks=rc.hooks, atomic=rc.atomic)
        finally:
            if own_src:
                src_db.close()
    compiled = list(compile_replication(rc))
    txn = contextlib.nullcontext()
    if rc.atomic:
        # atomic replications defer every stream's catalog pointer
        # commit to ONE commit_many (iceberg_catalog.CatalogTransaction
        # — routed through run_committed, so merges, WAP publishes and
        # plain loads all participate). Non-catalog targets have no
        # pointer to defer — refuse loudly rather than silently
        # landing them stream-by-stream.
        from sling_cli_spark.sources.iceberg_catalog import (
            CatalogTransaction, is_catalog_url)

        bad = [c.target.object for c in compiled
               if not is_catalog_url(c.target.object or "")]
        if bad:
            raise ValueError(
                f"atomic replication needs catalog:// targets for "
                f"every stream; got {bad[:3]}")
        txn = CatalogTransaction()
        continue_on_error = False
    for cfg in compiled:
        if base_output and not os.path.isabs(cfg.target.object or "") \
                and "://" not in (cfg.target.object or "") \
                and not (cfg.target.conn or "").startswith(
                    ("duckdb:", "sqlite:")):
            cfg.target.object = os.path.join(base_output, cfg.target.object)
    width = _fanout_width(spark, rc, compiled, _shared_db)
    failed = threading.Event()

    def _stream_task(cfg, key, entry):
        if failed.is_set():
            # fail-fast: never started (it may precede the failed stream
            # in stream order when that one started and failed first)
            del runs_ns[key]
            return None
        entry["start_time"] = time.time()
        try:
            result = _run_stream(cfg)
        except Exception as e:
            if not continue_on_error:
                failed.set()
            _finish_entry(entry, error=e)
            raise
        _finish_entry(entry, result=result)
        return result

    # per-stream 'post' hooks of an atomic replication report COMMITTED
    # state, so they wait for the transaction's single commit_many (r11
    # advice fix: inside the with-block they claimed success for
    # streams whose pointer never moved if the final commit failed)
    deferred_posts = []

    def _post_hooks(cfg, stream_env, result):
        env = {**stream_env, "rows": str(result.rows)}
        stream_post = (getattr(cfg, "_stream_hooks", None) or {}).get("post")
        if stream_post:
            run_pipeline(spark, stream_post, env={**rc.env, **env},
                         runtime=rt)
        run_hooks("post", env)

    def _settle(cfg, stream_env, entry, fut):
        """Record one stream's outcome; called in stream order."""
        try:
            result = fut.result()
        except Exception as e:
            status["error"] += 1
            status.setdefault("failures", []).append(
                f"{cfg.source.stream}: {e!r}")
            if not continue_on_error:
                raise
            results[cfg.source.stream] = None
            return
        if result is None:  # skipped after a failure
            return
        rt.state_extra["run"] = entry  # `{run.*}` = CURRENT stream's run
        status["success"] += 1
        results[cfg.source.stream] = result
        post = functools.partial(_post_hooks, cfg, stream_env, result)
        if rc.atomic:
            deferred_posts.append(post)
        else:
            post()

    pool = _InlinePool() if width == 1 else _StreamPool(spark, width)
    with txn, pool:
        pending = []
        try:
            for cfg in compiled:
                stream_env = {"stream_name": cfg.source.stream or "",
                              "object_name": cfg.target.object or ""}
                run_hooks("pre", stream_env)
                stream_pre = (getattr(cfg, "_stream_hooks", None)
                              or {}).get("pre")
                if stream_pre:
                    run_pipeline(spark, stream_pre,
                                 env={**rc.env, **stream_env}, runtime=rt)
                key, entry = _run_entry(cfg)
                # `{run.*}` visible to pre/merge hooks DURING the stream
                rt.state_extra["run"] = entry
                pending.append((cfg, stream_env, entry,
                                pool.submit(_stream_task, cfg, key, entry)))
                if width == 1:
                    # the stream already ran inline: settle it (and fire
                    # its post hooks) before the next stream's pre hooks
                    _settle(*pending.pop())
            for p in pending:
                _settle(*p)
        except BaseException:
            # a failure, or an interrupt (Ctrl-C) reaching this thread:
            # queued streams must not start while the pool drains
            failed.set()
            raise
    for post in deferred_posts:
        post()
    run_hooks("end")
    return results
