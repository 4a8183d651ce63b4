"""Command-line twin of the reference CLI (``sling run`` / ``conns`` /
``pipeline``): ``python -m sling_cli_spark <command>``.

Reference surface: ``cmd/sling/sling_cli.go:45-238`` (flags),
``sling_run.go`` (flag -> Config assembly), ``sling_conns.go``
(env.yaml connection registry). Same shape here, Spark underneath:

    python -m sling_cli_spark run -r replication.yaml
    python -m sling_cli_spark run --src-stream /data/a.csv \\
        --tgt-object /warehouse/a.parquet --mode full-refresh
    python -m sling_cli_spark run --src-conn LANDING --src-stream x.csv \\
        --tgt-object out.parquet --select 'id,name' --stdout
    python -m sling_cli_spark conns list
    python -m sling_cli_spark conns set LANDING type=local url=/data
    python -m sling_cli_spark conns test LANDING
    python -m sling_cli_spark pipeline pipeline.yaml

Connections live in ``$SLING_HOME_DIR/env.yaml`` (default
``~/.sling-spark/env.yaml``) under a ``connections:`` map, the
reference's layout. File-type connections resolve stream/object paths
against their ``url``; database connections carry a JDBC URL into the
config (consumed by sources/jdbc.py when driver jars are present).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

import yaml


def _stream_csv_stdout(df, chunk_rows: int = 10_000) -> None:
    """Stream a DataFrame to stdout as CSV with CONSTANT driver memory
    (reference behavior: rows stream incrementally,
    core/dbio/iop/datastream.go:2218-2379). ``toLocalIterator`` pulls
    one partition at a time — an unbounded source never materializes
    through the driver, unlike ``toPandas`` (the pre-r8 shape). Rows
    buffer into small pandas chunks purely for CSV quoting fidelity."""
    import pandas as pd

    cols = df.columns
    buf: list = []
    header = True

    def flush() -> None:
        nonlocal header
        pd.DataFrame(buf, columns=cols).to_csv(
            sys.stdout, index=False, header=header)
        header = False
        buf.clear()

    for row in df.toLocalIterator():
        buf.append(row)
        if len(buf) >= chunk_rows:
            flush()
    flush()  # remaining rows — or just the header for an empty result


def _home_dir() -> str:
    return os.environ.get(
        "SLING_HOME_DIR", os.path.expanduser("~/.sling-spark"))


def _env_path() -> str:
    return os.path.join(_home_dir(), "env.yaml")


def load_connections() -> dict:
    p = _env_path()
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        doc = yaml.safe_load(f) or {}
    return doc.get("connections") or {}


def save_connections(conns: dict) -> None:
    os.makedirs(_home_dir(), exist_ok=True)
    p = _env_path()
    doc = {}
    if os.path.exists(p):
        with open(p) as f:
            doc = yaml.safe_load(f) or {}
    doc["connections"] = conns
    with open(p, "w") as f:
        yaml.safe_dump(doc, f, sort_keys=True)


def _truthy(v: str) -> bool:
    return v.strip().lower() in ("1", "true", "yes", "on")


def _spool_stdin() -> str:
    """Spool piped stdin bytes to a temp file for the Spark reader —
    gzip magic keeps a .gz suffix so the scan decompresses (reference:
    `cat x.csv.gz | sling run`, suite.cli.yaml cases 4/8)."""
    import tempfile

    data = sys.stdin.buffer.read()
    suffix = ".csv.gz" if data[:2] == b"\x1f\x8b" else ".csv"
    fd, path = tempfile.mkstemp(prefix="sling_stdin_", suffix=suffix)
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    return path


def resolve_conn(name: str | None, stream: str | None) -> tuple[str | None, str | None]:
    """(resolved_stream_or_object, jdbc_url). File-type connections
    prefix the relative path with their url/base dir; database
    connections pass their JDBC URL through."""
    if not name:
        return stream, None
    conns = load_connections()
    if name not in conns:
        raise SystemExit(f"connection not found: {name} ({_env_path()})")
    c = conns[name] or {}
    url = c.get("url") or c.get("base") or ""
    if url.startswith("jdbc:") or (c.get("type") or "") in (
            "postgres", "mysql", "snowflake", "sqlserver", "oracle",
            "bigquery", "redshift", "clickhouse", "duckdb", "sqlite"):
        return stream, url or c.get("url")
    if stream and not os.path.isabs(stream) and "://" not in stream:
        return os.path.join(url, stream) if url else stream, None
    return stream or url, None


def _parse_opts(text: str | None) -> dict:
    """--src-options / --tgt-options accept JSON or YAML flow text,
    like the reference flags."""
    if not text:
        return {}
    try:
        return json.loads(text)
    except (ValueError, TypeError):
        return yaml.safe_load(text) or {}


def _get_spark(debug: bool = False):
    from sling_cli_spark.session import get_spark

    spark = get_spark("sling-cli")
    if not debug:
        spark.sparkContext.setLogLevel("ERROR")
    return spark


def _resolve_repl_conn(name: str | None) -> str | None:
    """Replication-level source/target names -> connection URLs (file
    connections resolve to their base via run_replication's
    local-conn handling; DB connections to their url)."""
    if not name or "://" in name or name.lower() == "local":
        return name
    conns = load_connections()
    c = conns.get(name)
    if c is None:
        raise SystemExit(f"connection not found: {name} ({_env_path()})")
    return c.get("url") or c.get("base") or name


def cmd_run(args: argparse.Namespace) -> int:
    from sling_cli_spark.config import Config

    if getattr(args, "pipeline", None):
        # `sling run -p pipeline.yaml` (reference alias of `sling
        # pipeline`; suite.cli.yaml drives pipelines through run -p)
        args.file = args.pipeline
        return cmd_pipeline(args)

    if args.replication:
        from sling_cli_spark.plans.replication import (
            ReplicationConfig, run_replication)

        if args.replication.endswith((".yaml", ".yml")) \
                and not os.path.exists(args.replication):
            print(f"replication config not found: {args.replication}",
                  file=sys.stderr)
            return 1
        try:
            rc = ReplicationConfig.from_yaml(args.replication)
            if not isinstance(rc.streams, dict) or not rc.streams:
                raise ValueError("no streams defined")
        except Exception as e:
            # bad YAML is a CONFIG error: message + non-zero exit, no
            # traceback (suite.cli error contracts)
            print(f"invalid replication config: {e}", file=sys.stderr)
            return 1
        # conn NAMES resolve through the saved connections registry
        # (the reference's env.yaml), like --src-conn/--tgt-conn
        rc.source = _resolve_repl_conn(rc.source)
        rc.target = _resolve_repl_conn(rc.target)
        spark = _get_spark(args.debug)
        try:
            results = run_replication(spark, rc)
        except Exception as e:
            print(f"execution failed: {e}", file=sys.stderr)
            return 1
        for stream, res in results.items():
            print(f"{stream}: {res.rows} rows ({res.mode})")
        print("execution succeeded")
        return 0

    if not args.src_stream:
        # no stream + piped stdin = the reference's `cat x.csv | sling
        # run` shape: spool stdin to a temp file (gzip detected from
        # the magic bytes so Spark decompresses on read)
        try:
            if not sys.stdin.isatty():
                spooled = _spool_stdin()
                if os.path.getsize(spooled) > 0:
                    args.src_stream = spooled
        except OSError:
            pass  # no usable stdin (e.g. captured test harness)
        if not args.src_stream:
            print("either -r or --src-stream is required",
                  file=sys.stderr)
            return 2

    stream, src_jdbc = resolve_conn(args.src_conn, args.src_stream)
    obj, tgt_jdbc = resolve_conn(args.tgt_conn, args.tgt_object)
    d = {
        "source": {
            "conn": src_jdbc or args.src_conn,
            "stream": stream,
            "primary_key": [s for s in (args.primary_key or "").split(",") if s],
            "update_key": args.update_key,
            "select": [s for s in (args.select or "").split(",") if s],
            "where": args.where,
            "limit": args.limit,
            "options": _parse_opts(args.src_options),
        },
        "target": {
            "conn": tgt_jdbc or args.tgt_conn,
            "object": obj,
            "options": _parse_opts(args.tgt_options),
        },
        "mode": args.mode,
    }
    cfg = Config.from_dict(d)
    # direct runs share the replication gate: an extension-named object
    # on a FILE target is ONE file (suite.cli id 15 `--tgt-object
    # file:///tmp/my_table.csv`), unless --tgt-options set it
    if not cfg.target.conn and cfg.target.options.single is False \
            and "single" not in (_parse_opts(args.tgt_options) or {}) \
            and re.search(r"\.(csv|tsv|json|jsonl|ndjson|parquet|xlsx)$",
                          (cfg.target.object or "")):
        cfg.target.options.single = True
    spark = _get_spark(args.debug)

    if args.stdout or not cfg.target.object:
        # stream the (limited) result to stdout as CSV, reference
        # `sling run --stdout`
        from sling_cli_spark.runner import build_read_plan

        df = build_read_plan(spark, cfg)
        _stream_csv_stdout(df)
        return 0

    from sling_cli_spark.runner import build_read_plan, run

    if not _truthy(os.environ.get("SLING_ALLOW_EMPTY", "")):
        # reference task_run_write.go:33/414: an EMPTY stream warns and
        # does nothing unless SLING_ALLOW_EMPTY — a cheap limit-1 probe.
        # DB sources get a dedicated LIMIT-1 SQL probe: isEmpty() on a
        # DB-source plan would trigger a FULL COPY-TO export just for
        # the check, doubling every run's export (ADVICE r12).
        if (cfg.source.conn or "").startswith("duckdb:"):
            from sling_cli_spark.sinks.db_load import db_source_is_empty

            empty = db_source_is_empty(spark, cfg.source)
        else:
            from sling_cli_spark.sinks.db_load import db_source_stages

            with db_source_stages():
                empty = build_read_plan(spark, cfg).isEmpty()
        if empty:
            print("no data or records found in stream. Nothing to do. "
                  "To allow empty loads, set SLING_ALLOW_EMPTY=TRUE",
                  file=sys.stderr)
            print("execution succeeded")
            return 0

    if (cfg.target.conn or "").startswith("duckdb:"):
        # database target: the DB-load lifecycle (staged ingest +
        # dialect merge SQL), not the file writer
        from sling_cli_spark.sinks.db_load import open_duckdb, run_db

        db = open_duckdb(cfg.target.conn)
        try:
            res = run_db(spark, cfg, db)
        finally:
            db.close()
    else:
        res = run(spark, cfg)
    print(f"{res.rows} rows -> {cfg.target.object} ({res.mode})")
    print("execution succeeded")
    return 0


def cmd_conns(args: argparse.Namespace) -> int:
    conns = load_connections()
    if args.conns_cmd == "list":
        if not conns:
            print(f"no connections defined ({_env_path()})")
            return 0
        width = max(len(n) for n in conns) + 2
        for name in sorted(conns):
            c = conns[name] or {}
            print(f"{name:<{width}}{c.get('type', '?'):<12}"
                  f"{c.get('url', '')}")
        return 0
    if args.conns_cmd == "set":
        kv = dict(p.split("=", 1) for p in args.pairs if "=" in p)
        conns[args.name] = {**(conns.get(args.name) or {}), **kv}
        save_connections(conns)
        print(f"connection {args.name} saved to {_env_path()}")
        return 0
    if args.conns_cmd == "discover":
        # reference `sling conns discover NAME [--pattern]`: list the
        # connection's streams — files for file conns, the rendered
        # catalog SQL for database conns (executed over JDBC when jars
        # are present)
        if args.name not in conns:
            print(f"connection not found: {args.name}", file=sys.stderr)
            return 1
        c = conns[args.name] or {}
        url = c.get("url") or ""
        ctype = c.get("type") or ""
        if url.startswith(("duckdb:", "sqlite:")):
            # live embedded engines discover against the catalog
            # (reference `conns discover NAME --pattern schema.tbl_v*`)
            from sling_cli_spark.sinks.db_load import discover_db, open_db

            db = open_db(url)
            try:
                pattern = args.pattern or ""
                level = "column" if (pattern and "." in pattern
                                     and "*" not in pattern) else "table"
                items = discover_db(db, pattern, level)
            finally:
                db.close()
            for it in items:
                print(it["column_name"] if isinstance(it, dict) else it)
            return 0
        if url.startswith("jdbc:") or ctype in (
                "postgres", "mysql", "snowflake", "sqlserver", "oracle",
                "bigquery", "redshift", "clickhouse", "duckdb", "sqlite"):
            from sling_cli_spark.dialects import get_dialect

            d = get_dialect(ctype or "postgres")
            print(d.metadata_sql("tables",
                                 schema=args.pattern or "public"))
            return 0
        import fnmatch

        pat = args.pattern or "*"
        if not os.path.isdir(url):
            print(f"{args.name}: not a directory ({url})", file=sys.stderr)
            return 1
        for name in sorted(os.listdir(url)):
            if fnmatch.fnmatch(name, pat):
                print(name)
        return 0
    if args.conns_cmd == "test":
        if args.name not in conns:
            print(f"connection not found: {args.name}", file=sys.stderr)
            return 1
        c = conns[args.name] or {}
        url = c.get("url") or ""
        if url.startswith("jdbc:"):
            print(f"{args.name}: jdbc url recorded; needs the driver jar "
                  "on the Spark classpath to probe")
            return 0
        ok = os.path.exists(url) or "://" in url
        # output contract matches the reference ("success!",
        # suite.cli.yaml id 28)
        print(f"connection {args.name}: "
              f"{'success!' if ok else 'FAILED'} ({url})")
        return 0 if ok else 1
    if args.conns_cmd == "exec":
        # `sling conns exec CONN "sql"` (suite.cli ids 21/23/25/29):
        # run SQL on a saved DB connection, print the rows + count
        if args.name not in conns:
            print(f"connection not found: {args.name}", file=sys.stderr)
            return 1
        url = (conns[args.name] or {}).get("url") or ""
        if not url.startswith(("duckdb:", "sqlite:")):
            print(f"conns exec supports embedded DB conns here; "
                  f"got {url!r}", file=sys.stderr)
            return 1
        from sling_cli_spark.sinks.db_load import open_db

        db = open_db(url)
        try:
            sql = re.sub(r"#.*$", "", args.sql).strip()
            cur = db.con.execute(sql)
            names = [d[0] for d in cur.description or []]
            rows = cur.fetchall()
            if names:
                print(",".join(names))
            for r in rows:
                print(",".join("" if v is None else str(v) for v in r))
            print(f"successful! duration: 0 seconds "
                  f"({len(rows)} rows)")
            return 0
        except Exception as e:
            print(f"exec failed: {e}", file=sys.stderr)
            return 1
        finally:
            db.close()
    return 2


def _cli_args_map(argv: list[str]) -> dict:
    """Explicitly-passed CLI flags -> {flag: typed value} (reference
    p.41 contract: hyphens fold to underscores, ``--streams`` parses to
    an ARRAY of selectors, numerics are typed, flags NOT passed have NO
    key). Derived from the raw vector — argparse can't distinguish
    "passed" from "defaulted"."""
    out: dict = {}
    alias = {"p": "pipeline", "r": "replication", "l": "limit",
             "d": "debug"}
    i = 0
    while i < len(argv):
        tok = argv[i]
        key = None
        if tok.startswith("--"):
            key = tok[2:]
        elif tok.startswith("-") and len(tok) == 2 and tok != "-":
            key = alias.get(tok[1], tok[1])
        if key is None:
            i += 1
            continue
        key = key.replace("-", "_")
        val: object = True
        if i + 1 < len(argv) and not argv[i + 1].startswith("-"):
            raw = argv[i + 1]
            i += 1
            if raw.lstrip("-").isdigit():
                val = int(raw)
            else:
                val = raw
        if key == "streams" and isinstance(val, str):
            val = [s.strip() for s in val.split(",") if s.strip()]
        out[key] = val
        i += 1
    return out


def cmd_pipeline(args: argparse.Namespace) -> int:
    from sling_cli_spark.plans.pipeline import run_pipeline

    if not os.path.exists(args.file):
        print(f"pipeline config not found: {args.file}", file=sys.stderr)
        return 1
    with open(args.file) as f:
        try:
            doc = yaml.safe_load(f) or {}
        except yaml.YAMLError as e:
            print(f"invalid pipeline config: {e}", file=sys.stderr)
            return 1
    steps = doc if isinstance(doc, list) else (doc.get("steps") or [])
    if not steps:
        print("invalid pipeline config: no steps defined",
              file=sys.stderr)
        return 1
    spark = _get_spark(args.debug)
    env = doc.get("env") if isinstance(doc, dict) else None
    from sling_cli_spark.plans.pipeline import PipelineRuntime

    rt = PipelineRuntime(
        state={"execution": {
            "id": __import__("uuid").uuid4().hex,
            "file_name": os.path.basename(args.file),
            "cli_args": _cli_args_map(getattr(args, "_raw_argv", [])),
            "status": {"error": 0, "success": 0, "count": 0}}},
        env={str(k): str(v) for k, v in (env or {}).items()})
    try:
        state = run_pipeline(spark, steps,
                             env={str(k): str(v)
                                  for k, v in (env or {}).items()},
                             runtime=rt)
    except Exception as e:
        # step failures are run errors: message + exit 1, no traceback
        # (suite.cli error contracts)
        print(f"execution failed: {e}", file=sys.stderr)
        return 1
    print(f"pipeline done ({len(steps)} steps)")
    print("execution succeeded")
    return 0 if state is not None else 1


def _open_catalog(args: argparse.Namespace):
    """--db sqlite path (SQL catalog) or --uri http endpoint (REST) —
    the reference's catalog_type sql|rest switch
    (database_iceberg.go Connect:60-88)."""
    if getattr(args, "uri", None):
        from sling_cli_spark.sources.iceberg_rest import RestCatalog
        return RestCatalog(args.uri, token=args.token,
                           credential=args.credential,
                           warehouse=args.warehouse)
    if getattr(args, "db", None):
        from sling_cli_spark.sources.iceberg_catalog import SqlCatalog
        return SqlCatalog(args.db, warehouse=args.warehouse)
    print("pass --db <sqlite file> or --uri <rest endpoint>",
          file=sys.stderr)
    return None


def cmd_catalog(args: argparse.Namespace) -> int:
    """Iceberg catalog verbs (reference database_iceberg.go —
    GetSchemas:478 / GetTables:514 / GetColumns:562 / GetMaxValue:671 /
    DropTable:1123 / SwapTable:1185)."""
    from sling_cli_spark.sources import iceberg_catalog as ic

    op = args.cat_cmd
    if op == "serve":
        from sling_cli_spark.sources.iceberg_catalog import SqlCatalog
        from sling_cli_spark.sources.iceberg_rest import (
            RestCatalogServer)
        store = SqlCatalog(args.db, warehouse=args.warehouse)
        srv = RestCatalogServer(store, port=args.port,
                                token=args.token,
                                credential=args.credential).start()
        print(json.dumps({"serving": srv.uri}), flush=True)
        try:
            srv._thread.join()
        except KeyboardInterrupt:
            srv.stop()
        return 0
    cat = _open_catalog(args)
    if cat is None:
        return 2
    if op == "ls-namespaces":
        for ns in cat.list_namespaces():
            print(ns)
    elif op == "create-namespace":
        cat.create_namespace(args.namespace, exists_ok=args.if_not_exists)
    elif op == "drop-namespace":
        cat.drop_namespace(args.namespace)
    elif op == "ls":
        for ns, name in cat.list_tables(args.namespace):
            print(f"{ns}.{name}")
    elif op == "load":
        print(cat.load_table(args.table))
    elif op == "columns":
        for name, typ, required in ic.table_columns(cat, args.table):
            print(f"{name}\t{typ}\t"
                  f"{'not null' if required else 'nullable'}")
    elif op == "max-value":
        print(json.dumps({"column": args.column,
                          "max": ic.max_value(cat, args.table,
                                              args.column)},
                         default=str))
    elif op == "register":
        cat.register_table(args.table, args.metadata_location)
    elif op == "drop":
        cat.drop_table(args.table)
    elif op == "rename":
        cat.rename_table(args.src, args.dst)
    elif op == "swap":
        cat.swap_tables(args.src, args.dst)
    elif op == "repair":
        print(ic.repair_pointer(cat, args.table))
    elif op == "update-namespace":
        updates = {}
        for kv in args.set:
            k, sep, v = kv.partition("=")
            if not sep:
                print(f"--set needs K=V, got {kv!r}", file=sys.stderr)
                return 2
            updates[k] = v
        print(json.dumps(cat.update_namespace_properties(
            args.namespace, updates, args.remove)))
    elif op == "ls-views":
        for ns, name in cat.list_views(args.namespace):
            print(f"{ns}.{name}")
    elif op == "load-view":
        print(cat.load_view(args.view))
    elif op == "drop-view":
        cat.drop_view(args.view)
    elif op == "rename-view":
        cat.rename_view(args.src, args.dst)
    elif op == "create-view":
        from sling_cli_spark.sources import iceberg_views as iv
        spark = _get_spark(args.debug)
        if args.or_replace and cat.view_exists(args.view):
            ml = iv.replace_view(cat, spark, args.view, args.sql,
                                 dialect=args.dialect)
        else:
            ml = iv.create_view(cat, spark, args.view, args.sql,
                                dialect=args.dialect)
        print(json.dumps({"view": args.view,
                          "metadata_location": ml}))
    elif op == "read-view":
        from sling_cli_spark.sources import iceberg_views as iv
        spark = _get_spark(args.debug)
        df = iv.read_view(cat, spark, args.view,
                          version_id=args.version)
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    elif op == "view-versions":
        from sling_cli_spark.sources import iceberg_views as iv
        spark = _get_spark(args.debug)
        for row in iv.view_versions(
                cat, spark, args.view).toJSON().collect():
            print(row)
    return 0


def cmd_lake(args: argparse.Namespace) -> int:
    """Table-maintenance verbs for Delta/Iceberg dirs — the OPTIMIZE /
    VACUUM / history-expiry surface a lakehouse operator runs between
    loads."""
    path = args.path
    op = args.lake_cmd
    is_delta = os.path.isdir(os.path.join(path, "_delta_log"))
    if op in ("convert", "migrate"):  # adopt a PLAIN parquet dir
        spark = _get_spark(args.debug)
        if op == "convert":
            from sling_cli_spark.sources.delta_py import convert_to_delta
            convert_to_delta(spark, path)
            print(json.dumps({"converted": "delta", "version": 0}))
        else:
            from sling_cli_spark.sources.iceberg_py import (
                migrate_to_iceberg)
            sid = migrate_to_iceberg(spark, path)
            print(json.dumps({"converted": "iceberg",
                              "snapshot_id": sid}))
        return 0
    if not is_delta:
        from sling_cli_spark.sources.iceberg_py import is_iceberg_table
        if not is_iceberg_table(path):
            print(f"{path} is not a Delta or Iceberg table "
                  "(no _delta_log/ or metadata/version-hint.text)",
                  file=sys.stderr)
            return 2
    if op == "vacuum":
        if not is_delta:
            print("vacuum applies to Delta tables "
                  "(iceberg: use expire-snapshots)", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.delta_py import vacuum
        removed = vacuum(path, keep_versions=args.keep,
                         retention_hours=args.retention_hours)
        print(json.dumps({"removed_files": len(removed)}))
        return 0
    if op == "checkpoint":
        if not is_delta:
            print("checkpoint applies to Delta tables", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.delta_py import create_checkpoint
        v = create_checkpoint(
            path, v2=True if args.v2 else None)
        print(json.dumps({"checkpointed_version": v}))
        return 0
    if op == "checksum":
        if not is_delta:
            print("checksum applies to Delta tables", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.delta_py import verify_checksum
        res = verify_checksum(path, version=args.version)
        print(json.dumps({k: res[k] for k in
                          ("version", "ok", "seeded")}))
        return 0 if res["ok"] else 3
    if op == "compact-log":
        if not is_delta:
            print("compact-log applies to Delta tables", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.delta_py import compact_log
        out = compact_log(path, start=args.start, end=args.end)
        print(json.dumps({"compacted_log": out.rsplit("/", 1)[-1]}))
        return 0
    if op == "cleanup-logs":
        if is_delta:
            from sling_cli_spark.sources.delta_py import cleanup_logs
            removed = cleanup_logs(path, keep_versions=args.keep)
        else:
            from sling_cli_spark.sources.iceberg_py import (
                cleanup_metadata)
            removed = cleanup_metadata(path, keep=args.keep)
        print(json.dumps({"removed_log_files": len(removed)}))
        return 0
    if op == "expire-snapshots":
        if is_delta:
            print("expire-snapshots applies to Iceberg tables "
                  "(delta: use vacuum)", file=sys.stderr)
            return 2
        import time as _t

        from sling_cli_spark.sources.iceberg_py import expire_snapshots
        cut = None if args.older_than_hours is None else \
            int((_t.time() - args.older_than_hours * 3600) * 1000)
        print(json.dumps(
            expire_snapshots(path, keep=args.keep, older_than_ms=cut),
            default=str))
        return 0
    if op == "rewrite-manifests":
        if is_delta:
            print("rewrite-manifests applies to Iceberg tables "
                  "(delta: use compact-log)", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import rewrite_manifests
        print(json.dumps(rewrite_manifests(path)))
        return 0
    if op == "remove-orphans":
        if is_delta:
            print("remove-orphans applies to Iceberg tables "
                  "(delta: vacuum also reclaims orphaned DV files)",
                  file=sys.stderr)
            return 2
        import time as _t

        from sling_cli_spark.sources.iceberg_py import remove_orphan_files
        cut = None if args.older_than_hours is None else \
            int((_t.time() - args.older_than_hours * 3600) * 1000)
        removed = remove_orphan_files(path, older_than_ms=cut)
        print(json.dumps({"removed_files": len(removed)}))
        return 0
    if op == "restore":
        if not is_delta:
            print("restore applies to Delta tables "
                  "(iceberg: use rollback)", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.delta_py import restore_delta
        print(json.dumps(restore_delta(path, version=args.version)))
        return 0
    if op == "cherry-pick":
        if is_delta:
            print("cherry-pick applies to Iceberg tables",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import cherry_pick_snapshot
        sid = cherry_pick_snapshot(path, args.snapshot)
        print(json.dumps({"published_snapshot_id": sid}))
        return 0
    if op == "fast-forward":
        if is_delta:
            print("fast-forward applies to Iceberg tables",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import fast_forward
        sid = fast_forward(path, args.branch, to=args.to)
        print(json.dumps({"head_snapshot_id": sid, "ref": args.to}))
        return 0
    if op == "rollback":
        if is_delta:
            print("rollback applies to Iceberg tables "
                  "(delta: use restore)", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import rollback_to_snapshot
        sid = rollback_to_snapshot(path, args.snapshot)
        print(json.dumps({"current_snapshot_id": sid}))
        return 0
    if op == "sync-delta":
        from sling_cli_spark.sources.iceberg_py import (
            is_iceberg_table, sync_delta)
        if not is_iceberg_table(path):
            print("sync-delta applies to Iceberg tables", file=sys.stderr)
            return 2
        print(json.dumps({"delta_version": sync_delta(path)}))
        return 0
    if op == "uniform":
        if not is_delta:
            print("uniform applies to Delta tables", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import sync_uniform
        print(json.dumps({"iceberg_snapshot_id": sync_uniform(path)}))
        return 0
    if op in ("tag", "branch", "drop-ref"):  # metadata-only, no Spark
        if is_delta:
            print(f"{op} applies to Iceberg tables (spec §Refs)",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources import iceberg_py as ice
        if op == "drop-ref":
            ice.drop_ref(path, args.name)
            print(json.dumps({"dropped": args.name}))
        else:
            fn = ice.create_tag if op == "tag" else ice.create_branch
            sid = fn(path, args.name, snapshot_id=args.snapshot)
            print(json.dumps({"ref": args.name, "type": op,
                              "snapshot_id": sid}))
        return 0
    if op in ("enable-mapping", "rename-column", "drop-column",
              "add-column"):  # metadata-only DDL, no Spark needed
        if not is_delta:
            print(f"{op} applies to Delta tables (PROTOCOL.md Column "
                  "Mapping)", file=sys.stderr)
            return 2
        from sling_cli_spark.sources import delta_py as dl
        if op == "enable-mapping":
            v = dl.enable_column_mapping(path)
        elif op == "rename-column":
            v = dl.rename_column(path, args.old, args.new)
        elif op == "drop-column":
            v = dl.drop_column(path, args.name)
        else:
            v = dl.add_column(path, args.name, args.type)
        print(json.dumps({"version": v}))
        return 0
    if op == "set-property":
        kvs = {}
        for kv in args.pairs:
            k, eq, v = kv.partition("=")
            kvs[k] = (v if eq else None)
        if is_delta:
            from sling_cli_spark.sources.delta_py import (
                set_table_properties)
            v = set_table_properties(path, kvs)
            print(json.dumps({"version": v}))
        else:
            from sling_cli_spark.sources.iceberg_py import (
                set_iceberg_properties)
            print(json.dumps(set_iceberg_properties(path, kvs)))
        return 0
    if op == "sort-order":
        if is_delta:
            print("sort-order applies to Iceberg tables "
                  "(delta: use optimize --zorder)", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import set_sort_order
        oid = set_sort_order(path, args.fields)
        print(json.dumps({"default_sort_order_id": oid}))
        return 0
    spark = _get_spark(args.debug)
    if op == "detail":
        if is_delta:
            from sling_cli_spark.sources.delta_py import describe_detail
            _stream_csv_stdout(describe_detail(spark, path))
        else:
            from sling_cli_spark.sources.iceberg_py import iceberg_detail
            _stream_csv_stdout(iceberg_detail(spark, path))
        return 0
    if op == "files":
        if is_delta:
            print("files applies to Iceberg tables (delta: use detail)",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import iceberg_files
        _stream_csv_stdout(iceberg_files(spark, path))
        return 0
    if op == "partitions":
        if is_delta:
            print("partitions applies to Iceberg tables", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import iceberg_partitions
        _stream_csv_stdout(iceberg_partitions(spark, path))
        return 0
    if op == "position-deletes":
        if is_delta:
            print("position-deletes applies to Iceberg tables",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import (
            iceberg_position_deletes)
        _stream_csv_stdout(iceberg_position_deletes(spark, path))
        return 0
    if op == "history":
        if is_delta:
            from sling_cli_spark.sources.delta_py import describe_history
            df = describe_history(spark, path)
        else:
            from sling_cli_spark.sources.iceberg_py import iceberg_history
            df = iceberg_history(spark, path)
        _stream_csv_stdout(df)
        return 0
    if op == "incremental":
        if is_delta:
            from sling_cli_spark.sources.delta_py import (
                read_delta_incremental)
            df = read_delta_incremental(spark, path, args.since)
        else:
            from sling_cli_spark.sources.iceberg_py import (
                read_iceberg_incremental)
            df = read_iceberg_incremental(spark, path, args.since)
        _stream_csv_stdout(df)
        return 0
    if op in ("snapshots", "manifests", "entries", "refs", "stats",
              "all-manifests", "all-files"):
        if is_delta:
            print(f"{op} applies to Iceberg tables (delta: use history)",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources import iceberg_py as ice
        fn = {"snapshots": ice.iceberg_snapshots,
              "manifests": ice.iceberg_manifests,
              "entries": ice.iceberg_entries,
              "refs": ice.iceberg_refs_meta,
              "stats": ice.iceberg_statistics,
              "all-manifests": ice.iceberg_all_manifests,
              "all-files": ice.iceberg_all_files}[op]
        _stream_csv_stdout(fn(spark, path))
        return 0
    if op == "analyze":
        if is_delta:
            print("analyze applies to Iceberg tables", file=sys.stderr)
            return 2
        if args.partitions:
            from sling_cli_spark.sources.iceberg_py import (
                compute_partition_stats)
            print(json.dumps(
                compute_partition_stats(path, ref=args.ref)))
            return 0
        from sling_cli_spark.sources.iceberg_py import analyze_iceberg
        cols = [c for c in (args.columns or "").split(",") if c] or None
        print(json.dumps(analyze_iceberg(
            spark, path, columns=cols, ref=args.ref)))
        return 0
    if op == "optimize":
        target = args.target_mb * 1024 * 1024
        if is_delta:
            from sling_cli_spark.sources.delta_py import optimize_delta
            stats = optimize_delta(
                spark, path, target_file_bytes=target,
                purge_dvs=args.purge_dvs,
                zorder_by=[c for c in (args.zorder or "").split(",")
                           if c] or None)
        else:
            from sling_cli_spark.sources.iceberg_py import compact_iceberg
            stats = compact_iceberg(
                spark, path, target_file_bytes=target,
                purge_dvs=args.purge_dvs,
                zorder_by=[c for c in (args.zorder or "").split(",")
                           if c] or None,
                sort=getattr(args, "sort", False))
        print(json.dumps(stats, default=str))
        return 0
    # op == "changes": stream the table's row-level changes as CSV
    if is_delta:
        if args.from_snapshot is not None:
            print("--from-snapshot is an Iceberg option; Delta tables "
                  "take --starting-version", file=sys.stderr)
            return 2
        from sling_cli_spark.sources.delta_py import (
            latest_version, read_change_feed)
        start = args.starting_version
        if start is None and args.starting_timestamp is None:
            # default to the LATEST commit's changes: starting at 0
            # would try to re-derive history whose files vacuum may
            # already have reclaimed
            start = latest_version(path)
        df = read_change_feed(
            spark, path, starting_version=start or 0,
            starting_timestamp_ms=args.starting_timestamp,
            ending_timestamp_ms=args.ending_timestamp)
    else:
        if args.starting_version is not None:
            print("--starting-version is a Delta option; Iceberg "
                  "tables take --from-snapshot", file=sys.stderr)
            return 2
        if args.starting_timestamp is not None or \
                args.ending_timestamp is not None:
            print("--starting/ending-timestamp are Delta options; "
                  "Iceberg tables take --from-snapshot",
                  file=sys.stderr)
            return 2
        from sling_cli_spark.sources.iceberg_py import iceberg_changelog
        df = iceberg_changelog(
            spark, path, from_snapshot_id=args.from_snapshot)
    _stream_csv_stdout(df)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sling-spark",
        description="PySpark-native data movement (sling-compatible surface)")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run a task or replication")
    r.add_argument("-r", "--replication", help="replication yaml path")
    r.add_argument("-p", "--pipeline", help="pipeline yaml path")
    r.add_argument("--src-conn", help="source connection name")
    r.add_argument("--src-stream", help="source table/path/glob/SQL")
    r.add_argument("--src-options", help="source options (JSON/YAML)")
    r.add_argument("--tgt-conn", help="target connection name")
    r.add_argument("--tgt-object", help="target table/path")
    r.add_argument("--tgt-options", help="target options (JSON/YAML)")
    r.add_argument("--mode", default="full-refresh",
                   choices=["full-refresh", "incremental", "truncate",
                            "snapshot", "backfill"])
    r.add_argument("--select", help="comma-separated column selection")
    r.add_argument("--where", help="row filter expression")
    r.add_argument("--primary-key", help="comma-separated PK columns")
    r.add_argument("--update-key", help="incremental watermark column")
    r.add_argument("-l", "--limit", type=int)
    r.add_argument("--streams", help="comma-separated stream selectors "
                   "(names or tag:x), exposed to pipelines via "
                   "execution.cli_args.streams")
    r.add_argument("--stdout", action="store_true",
                   help="print result as CSV instead of writing the target")
    r.add_argument("-d", "--debug", action="store_true")
    r.set_defaults(fn=cmd_run)

    c = sub.add_parser("conns", help="manage connections")
    cs = c.add_subparsers(dest="conns_cmd", required=True)
    cs.add_parser("list", help="list connections")
    ct = cs.add_parser("test", help="test a connection")
    cx = cs.add_parser("exec", help="execute SQL on a connection")
    cx.add_argument("name")
    cx.add_argument("sql")
    ct.add_argument("name")
    cd = cs.add_parser("discover",
                       help="list a connection's streams/tables")
    cd.add_argument("name")
    cd.add_argument("--pattern", help="glob (files) or schema (DBs)")
    cset = cs.add_parser("set", help="create/update a connection")
    cset.add_argument("name")
    cset.add_argument("pairs", nargs="+", help="key=value ...")
    c.set_defaults(fn=cmd_conns)

    pl = sub.add_parser("pipeline", help="run a pipeline yaml")
    pl.add_argument("file")
    pl.add_argument("-d", "--debug", action="store_true")
    pl.set_defaults(fn=cmd_pipeline)

    lk = sub.add_parser("lake", help="Delta/Iceberg table maintenance")
    ls = lk.add_subparsers(dest="lake_cmd", required=True)
    lo = ls.add_parser("optimize", help="bin-pack small files")
    lo.add_argument("path")
    lo.add_argument("--target-mb", type=int, default=128)
    lo.add_argument("--purge-dvs", action="store_true",
                    help="delta: also rewrite files whose deletion "
                         "vector covers >=30%% of rows (REORG/PURGE)")
    lo.add_argument("--zorder",
                    help="delta: comma-separated columns to re-cluster "
                         "along the Morton curve (OPTIMIZE ZORDER BY)")
    lo.add_argument("--sort", action="store_true",
                    help="iceberg: rewrite every file range-partitioned"
                         " by the table's default sort order "
                         "(rewrite_data_files strategy => 'sort')")
    lv = ls.add_parser("vacuum", help="delta: drop unreferenced files")
    lv.add_argument("path")
    lv.add_argument("--keep", type=int, default=1,
                    help="versions whose files stay reachable")
    lv.add_argument("--retention-hours", type=float, default=None,
                    help="delta-spark RETAIN semantics: reclaim only "
                         "files tombstoned longer ago than this")
    le = ls.add_parser("expire-snapshots",
                       help="iceberg: prune snapshot history")
    le.add_argument("path")
    le.add_argument("--keep", type=int, default=1)
    le.add_argument("--older-than-hours", type=float, default=None,
                    help="retain snapshots younger than this "
                         "(composes with --keep as retain-last)")
    lcv = ls.add_parser("convert",
                        help="adopt a plain parquet dir as a Delta "
                             "table IN PLACE (CONVERT TO DELTA twin)")
    lcv.add_argument("path")
    lmg = ls.add_parser("migrate",
                        help="adopt a plain parquet dir as an Iceberg "
                             "table IN PLACE (migrate procedure twin)")
    lmg.add_argument("path")
    lcp = ls.add_parser("checkpoint",
                        help="delta: write a checkpoint (--v2 adopts "
                             "the v2Checkpoint feature)")
    lcp.add_argument("path")
    lcp.add_argument("--v2", action="store_true")
    lck = ls.add_parser("checksum",
                        help="delta: verify (or seed) the {v}.crc "
                             "version checksum against the replayed "
                             "state")
    lck.add_argument("path")
    lck.add_argument("--version", type=int, default=None)
    lcg = ls.add_parser("compact-log",
                        help="delta: minor log compaction — write one "
                             "{s}.{e}.compacted.json holding the "
                             "reconciled actions of commits s..e")
    lcg.add_argument("path")
    lcg.add_argument("--start", type=int, default=0)
    lcg.add_argument("--end", type=int, default=None,
                     help="default: latest version")
    lcl = ls.add_parser("cleanup-logs",
                        help="metadata retention: delta drops "
                             "checkpoint-covered JSON commits + "
                             "superseded checkpoints; iceberg drops "
                             "old vN.metadata.json")
    lcl.add_argument("path")
    lcl.add_argument("--keep", type=int, default=10,
                     help="newest commits always retained")
    lrm = ls.add_parser("rewrite-manifests",
                        help="iceberg: consolidate the per-commit "
                             "manifest growth into one data manifest "
                             "(metadata-only replace snapshot)")
    lrm.add_argument("path")
    lr = ls.add_parser("remove-orphans",
                       help="iceberg: delete data/ files no snapshot "
                            "references")
    lr.add_argument("path")
    lr.add_argument("--older-than-hours", type=float, default=None,
                    help="only reap files older than this (in-flight "
                         "stage guard; Iceberg defaults to 72h)")
    li = ls.add_parser(
        "incremental",
        help="rows created/updated after a watermark via row lineage "
             "(iceberg: data sequence number; delta: commit version) — "
             "pre-watermark files prune from metadata, no change files")
    li.add_argument("path")
    li.add_argument("since", type=int,
                    help="the consumer's checkpoint: iceberg "
                         "last-sequence-number / delta version")
    lh = ls.add_parser("history",
                       help="commit/snapshot history as CSV "
                            "(DESCRIBE HISTORY twin)")
    lh.add_argument("path")
    ld = ls.add_parser("detail",
                       help="DESCRIBE DETAIL as CSV (both formats)")
    ld.add_argument("path")
    lf = ls.add_parser("files",
                       help="iceberg: files metadata table as CSV")
    lf.add_argument("path")
    lpd = ls.add_parser(
        "position-deletes",
        help="iceberg: live deleted positions (parquet + puffin DV)")
    lpd.add_argument("path")
    lpd.add_argument("-d", "--debug", action="store_true")
    lp = ls.add_parser("partitions",
                       help="iceberg: partitions metadata table as CSV "
                            "(manifest-only per-partition stats)")
    lp.add_argument("path")
    lsn = ls.add_parser("snapshots",
                        help="iceberg: snapshots metadata table as CSV")
    lsn.add_argument("path")
    lmf = ls.add_parser("manifests",
                        help="iceberg: manifests metadata table as CSV")
    lmf.add_argument("path")
    len_ = ls.add_parser("entries",
                         help="iceberg: raw manifest entries as CSV")
    len_.add_argument("path")
    lam = ls.add_parser("all-manifests",
                        help="iceberg: every retained snapshot's "
                             "manifests as CSV (reference_snapshot_id "
                             "per row)")
    lam.add_argument("path")
    laf = ls.add_parser("all-files",
                        help="iceberg: live files across every "
                             "retained snapshot, deduplicated, as CSV")
    laf.add_argument("path")
    lrf = ls.add_parser("refs",
                        help="iceberg: refs metadata table as CSV")
    lrf.add_argument("path")
    lst = ls.add_parser("stats",
                        help="iceberg: registered NDV statistics "
                             "(Puffin) as CSV")
    lst.add_argument("path")
    lan = ls.add_parser("analyze",
                        help="iceberg: compute per-column NDV theta "
                             "sketches into a Puffin statistics file")
    lan.add_argument("path")
    lan.add_argument("--columns",
                     help="comma-separated columns (default: all "
                          "eligible primitives)")
    lan.add_argument("--partitions", action="store_true",
                     help="write the spec's partition-statistics file "
                          "instead (manifest arithmetic, no scan)")
    lan.add_argument("--ref",
                     help="compute against a branch head (WAP: stats "
                          "keyed to the branch snapshot resolve at the "
                          "published head after fast-forward)")
    lsp = ls.add_parser("set-property",
                        help="set/unset table properties "
                             "(key=value; bare key unsets)")
    lsp.add_argument("path")
    lsp.add_argument("pairs", nargs="+",
                     help="e.g. write.distribution-mode=hash")
    lso = ls.add_parser("sort-order",
                        help="iceberg: set the default write sort "
                             "order (WRITE ORDERED BY)")
    lso.add_argument("path")
    lso.add_argument("fields", nargs="*",
                     help="e.g. 'o_totalprice desc' 'o_orderkey'; "
                          "empty resets to unsorted")
    lsd = ls.add_parser("sync-delta",
                        help="iceberg: generate/refresh a Delta log "
                             "beside the metadata (reverse universal "
                             "format)")
    lsd.add_argument("path")
    lu = ls.add_parser("uniform",
                       help="delta: generate/refresh Iceberg metadata "
                            "beside the log (universal format)")
    lu.add_argument("path")
    lrs = ls.add_parser("restore",
                        help="delta: RESTORE TO VERSION AS OF")
    lrs.add_argument("path")
    lrs.add_argument("--version", type=int, required=True)
    lcpk = ls.add_parser("cherry-pick",
                         help="iceberg: publish a staged append "
                              "snapshot (WAP) onto the current head")
    lcpk.add_argument("path")
    lcpk.add_argument("snapshot", type=int)
    lff = ls.add_parser("fast-forward",
                        help="iceberg: advance a ref to a branch head "
                             "when it is an ancestor (WAP publish for "
                             "any operation kind)")
    lff.add_argument("path")
    lff.add_argument("branch")
    lff.add_argument("--to", default="main")
    lrb = ls.add_parser("rollback",
                        help="iceberg: roll current back to a snapshot")
    lrb.add_argument("path")
    lrb.add_argument("--snapshot", type=int, required=True)
    for ref_op, ref_help in (
            ("tag", "iceberg: pin a named tag to a snapshot"),
            ("branch", "iceberg: create a named branch head"),
            ("drop-ref", "iceberg: remove a tag or branch ref")):
        lt = ls.add_parser(ref_op, help=ref_help)
        lt.add_argument("path")
        lt.add_argument("name")
        if ref_op != "drop-ref":
            lt.add_argument("--snapshot", type=int,
                            help="snapshot id (default: current)")
    lem = ls.add_parser("enable-mapping",
                        help="delta: enable column mapping (name mode)")
    lem.add_argument("path")
    lrc = ls.add_parser("rename-column",
                        help="delta: metadata-only column rename")
    lrc.add_argument("path")
    lrc.add_argument("old")
    lrc.add_argument("new")
    ldc = ls.add_parser("drop-column",
                        help="delta: metadata-only column drop")
    ldc.add_argument("path")
    ldc.add_argument("name")
    lac = ls.add_parser("add-column",
                        help="delta: add a nullable column (fresh "
                             "mapping id)")
    lac.add_argument("path")
    lac.add_argument("name")
    lac.add_argument("type", help="spark DDL type, e.g. 'double'")
    lc = ls.add_parser("changes",
                       help="stream row-level changes as CSV "
                            "(default: the latest commit's)")
    lc.add_argument("path")
    lc.add_argument("--starting-version", type=int,
                    help="delta change-feed start version")
    lc.add_argument("--starting-timestamp", type=int,
                    help="delta change-feed start instant (epoch ms; "
                         "first commit at or after — ICT-aware)")
    lc.add_argument("--ending-timestamp", type=int,
                    help="delta change-feed end instant (epoch ms)")
    lc.add_argument("--from-snapshot", type=int,
                    help="iceberg changelog start snapshot id")
    for sp in (lo, lv, le, lc, lh, ld, lf, lp, lsn, lmf, len_, lrf,
               lcv, lmg, lst, lan, lam, laf, li):
        # trailing -d like run/pipeline
        sp.add_argument("-d", "--debug", action="store_true")
    lk.set_defaults(fn=cmd_lake)

    ca = sub.add_parser(
        "catalog", help="iceberg catalog (sql or rest) verbs")
    cc = ca.add_subparsers(dest="cat_cmd", required=True)

    def _cat_common(sp):
        sp.add_argument("-d", "--debug", action="store_true")
        sp.add_argument("--db", help="sqlite catalog store path")
        sp.add_argument("--uri", help="REST catalog endpoint")
        sp.add_argument("--token", help="bearer token (rest)")
        sp.add_argument("--credential",
                        help="id:secret OAuth2 client creds (rest)")
        sp.add_argument("--warehouse",
                        help="default table location root")

    for name, hlp, pos in [
            ("ls-namespaces", "list namespaces", []),
            ("create-namespace", "create a namespace", ["namespace"]),
            ("drop-namespace", "drop an empty namespace",
             ["namespace"]),
            ("load", "print a table's metadata location", ["table"]),
            ("columns", "print a table's columns (no file I/O)",
             ["table"]),
            ("max-value",
             "watermark from manifest bounds (no data scan)",
             ["table", "column"]),
            ("register", "adopt an existing table's metadata",
             ["table", "metadata_location"]),
            ("drop", "drop a table from the catalog", ["table"]),
            ("rename", "rename a table", ["src", "dst"]),
            ("swap", "exchange two tables' pointers", ["src", "dst"]),
            ("repair", "roll the pointer forward to the table hint",
             ["table"]),
            ("load-view", "print a view's metadata location",
             ["view"]),
            ("drop-view", "drop a view from the catalog", ["view"]),
            ("rename-view", "rename a view", ["src", "dst"]),
            ("view-versions", "print a view's version history",
             ["view"]),
    ]:
        sp = cc.add_parser(name, help=hlp)
        for a in pos:
            sp.add_argument(a)
        if name == "create-namespace":
            sp.add_argument("--if-not-exists", action="store_true")
        _cat_common(sp)
    sp = cc.add_parser("ls", help="list tables")
    sp.add_argument("namespace", nargs="?", default=None)
    _cat_common(sp)
    sp = cc.add_parser("ls-views", help="list views")
    sp.add_argument("namespace", nargs="?", default=None)
    _cat_common(sp)
    sp = cc.add_parser(
        "update-namespace",
        help="set/remove namespace properties in one transaction")
    sp.add_argument("namespace")
    sp.add_argument("--set", action="append", default=[],
                    metavar="K=V")
    sp.add_argument("--remove", action="append", default=[],
                    metavar="K")
    _cat_common(sp)
    sp = cc.add_parser(
        "create-view",
        help="create (or replace) a view from a SQL text — the "
             "schema is analyzed against the catalog's tables")
    sp.add_argument("view")
    sp.add_argument("sql")
    sp.add_argument("--or-replace", action="store_true")
    sp.add_argument("--dialect", default="spark")
    _cat_common(sp)
    sp = cc.add_parser(
        "read-view",
        help="resolve + run a view's SQL; prints JSON rows")
    sp.add_argument("view")
    sp.add_argument("--version", type=int, default=None,
                    help="pin a retained historical version")
    sp.add_argument("--limit", type=int, default=20)
    _cat_common(sp)
    sp = cc.add_parser("serve",
                       help="serve a sqlite store over the REST API")
    sp.add_argument("--db", required=True)
    sp.add_argument("--port", type=int, default=8181)
    sp.add_argument("--token")
    sp.add_argument("--credential")
    sp.add_argument("--warehouse")
    ca.set_defaults(fn=cmd_catalog)
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    if argv is not None and not argv:
        # bare `sling`: print the top-level help like the reference
        # (suite.cli.yaml case 1)
        parser.print_help()
        return 0
    args = parser.parse_args(argv)
    # raw vector for the `execution.cli_args` pipeline namespace
    # (reference: p.41 — pipelines read the flags they were invoked
    # with; hyphens fold to underscores)
    args._raw_argv = list(argv) if argv is not None else sys.argv[1:]
    if not hasattr(args, "fn"):
        parser.print_help()
        return 0
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
