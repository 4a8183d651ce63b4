"""Database-target task execution (reference: ``task_run_write.go:228-868``).

The reference's DB-target lifecycle, re-expressed Spark-first:

1. ``pre_sql`` hook (multi-statement, ``parse_sql_multi_statements``)
2. incremental watermark probe — ``select max(update_key)`` on the
   LIVE target table (``task_run_read.go:141``)
3. the Spark read plan (``runner.build_read_plan`` — identical to file
   targets: select/where/limit, watermark filter, transforms, casing,
   sample-inference, column DSL)
4. the batch STAGES as parquet written by the executors; the database
   ingests the staged files directly (``read_parquet`` /
   ``fast_load_sql`` COPY) — the reference's per-DB bulk loaders
   (``database_postgres.go:450``, ``database_duckdb.go``) are the same
   shape: no row ever crosses back through the engine, so at 100 TB
   the only data movement is the embarrassingly-parallel staging write
   plus the DB's own file-direct ingest
5. typed DDL from the inferred Spark schema (``create_table_ddl``),
   schema evolution against the live table (``add_new_columns`` →
   ``core.add_column``; ``adjust_column_type`` → ``core.modify_column``
   when the incoming general type strictly widens; reference
   ``database.go:3832-3890`` / ``OptimizeTable`` :3556-3574)
6. mode SQL:
   - full-refresh: load a temp table, then drop-final + rename — the
     target keeps serving until the atomic swap (``task_run_write.go``
     temp-table full refresh)
   - truncate: ``core.truncate_table`` then append (table kept)
   - snapshot / incremental-without-PK: plain append
   - incremental/backfill with PK: ``staged_db_load`` — temp-table
     staging, landed-count validation, dialect-rendered merge strategy
     (unset strategy = the dialect's ``default_merge_strategy``,
     reference ``database.go:3186``), ``delete_missing`` against a
     FULL-source keyset stage
7. ``table_keys`` index DDL (``table_keys_ddl``)
8. ``post_sql`` hook

``DuckDBTarget`` is the in-process warehouse twin (the reference embeds
DuckDB the same way); the identical orchestration runs over live JDBC
in ``tests/test_jdbc_live.py`` (Derby). Both end in ``execute`` /
``fetch_one`` callables, so any DB-API/JDBC connection can drive it.
"""

from __future__ import annotations

import atexit
import fnmatch
import logging
import os
import re
import shutil
import tempfile
from contextlib import contextmanager
from contextvars import ContextVar
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from sling_cli_spark.config import Config, Mode, delete_missing_config
from sling_cli_spark.dialects import (
    create_table_ddl,
    general_type_from_native,
    get_dialect,
    native_type_for,
    parse_sql_multi_statements,
    parse_table_name,
    render,
)
from sling_cli_spark.runner import TaskResult, _column_specs, build_read_plan
from sling_cli_spark.sinks.writers import prepare_for_mode
from sling_cli_spark.sources.jdbc import staged_db_load

logger = logging.getLogger(__name__)


class DuckDBTarget:
    """A database target backed by an in-process DuckDB connection."""

    def __init__(self, path: str | None = None):
        import duckdb

        self.path = path
        self.con = duckdb.connect(path or ":memory:")
        self.dialect = get_dialect("duckdb")

    # -- DB-API surface (what staged_db_load needs) --------------------
    def execute(self, sql: str) -> None:
        self.con.execute(sql)

    def fetch_one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def fetch_all(self, sql: str):
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()

    # -- catalog probes -------------------------------------------------
    def _parsed(self, table: str) -> dict:
        p = parse_table_name(table, self.dialect.name)
        if not p["schema"]:
            p["schema"] = "main"
        return p

    def table_exists(self, table: str) -> bool:
        p = self._parsed(table)
        row = self.fetch_one(
            "select count(*) from information_schema.tables "
            f"where table_schema = '{p['schema']}' "
            f"and table_name = '{p['name']}'")
        return bool(row and row[0])

    def ensure_schema(self, table: str) -> None:
        p = self._parsed(table)
        if p["schema"] and p["schema"] != "main":
            self.execute(f"create schema if not exists \"{p['schema']}\"")

    def columns(self, table: str) -> list[tuple[str, str]]:
        """[(name, native_type)] in ordinal order."""
        p = self._parsed(table)
        return [
            (r[0], r[1]) for r in self.fetch_all(
                self.dialect.metadata_sql(
                    "columns", schema=p["schema"], table=p["name"]))
        ]

    def get_count(self, table: str) -> int:
        return int(self.fetch_one(
            f"select count(*) from {self.dialect.quote_table(table)}")[0])

    # -- staged-batch surface (engine-specific; SQLiteTarget is the
    # driver-side twin — proving run_db's orchestration is not
    # DuckDB-coupled) --------------------------------------------------
    def count_staged(self, glob: str) -> int:
        return int(self.fetch_one(
            f"select count(*) from read_parquet('{glob}')")[0])

    def classify_json(self, glob: str, str_cols: list[str],
                      limit: int = 900) -> list[str]:
        """String columns whose sampled staged values all parse as JSON
        objects/arrays (dataset.go:611 looksLikeJson at DDL time)."""
        out = []
        for c in str_cols:
            q = self.dialect.quote(c)
            row = self.fetch_one(
                f"select count(*) filter (where {q} is not null), "
                f"count(*) filter (where {q} is not null "
                f"  and left(trim({q}), 1) in ('{{', '[') "
                f"  and try_cast({q} as json) is not null) "
                f"from (select {q} from read_parquet('{glob}') "
                f"limit {limit})")
            if row and row[0] and row[0] == row[1]:
                out.append(c)
        return out

    def max_abs(self, glob: str, col: str):
        row = self.fetch_one(
            f"select max(abs({self.dialect.quote(col)}::double)) "
            f"from read_parquet('{glob}')")
        return row[0] if row else None

    def ingest(self, table: str, columns: list[str], glob: str,
               json_cols=()) -> None:
        """Bulk-load staged parquet into ``table`` — file-direct, no
        row crosses the driver. json columns parse on ingest (duckdb's
        implicit varchar->json would re-encode the text as a JSON
        string value instead of the object it spells)."""
        d = self.dialect
        jl = {c.lower() for c in json_cols}
        fl = ", ".join(d.quote(c) for c in columns)
        sel = ", ".join(
            f"try_cast({d.quote(c)} as json)" if c.lower() in jl
            else d.quote(c) for c in columns)
        self.execute(f"insert into {d.quote_table(table)} ({fl}) "
                     f"select {sel} from read_parquet('{glob}')")

    def export_sql(self, sql: str, path: str,
                   table_hint: str | None = None) -> None:
        """Bulk-unload a SELECT to parquet — duckdb's file-direct COPY
        (duckdb.yaml copy_to_local shape; typed natively, no hint
        needed)."""
        self.execute(f"COPY ({sql}) TO '{path}' (FORMAT 'parquet')")

    def stage_keyset(self, name: str, glob: str) -> None:
        q = self.dialect.quote_table(name)
        self.execute(f"create or replace temp table {q} as "
                     f"select * from read_parquet('{glob}')")

    def rename_table(self, tmp: str, final_name: str) -> None:
        self.execute(f'alter table {self.dialect.quote_table(tmp)} '
                     f'rename to "{final_name}"')


class SQLiteTarget:
    """The same DB-target lifecycle over stdlib sqlite3 — a SECOND live
    embedded engine (the reference ships a sqlite dialect,
    sqlite.yaml). SQLite cannot read parquet, so the staged batch
    ingests via batched executemany from a pyarrow scan — exactly the
    reference's generic prepared-statement loader
    (database.go:2437-2503); temporal/decimal values serialize to ISO /
    text (sqlite's text affinity, sqlite.yaml:280-296)."""

    def __init__(self, path: str | None = None):
        import sqlite3

        self.path = path
        self.con = sqlite3.connect(path or ":memory:")
        self.dialect = get_dialect("sqlite")

    def execute(self, sql: str) -> None:
        self.con.execute(sql)
        self.con.commit()

    def fetch_one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def fetch_all(self, sql: str):
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()

    def _parsed(self, table: str) -> dict:
        p = parse_table_name(table, self.dialect.name)
        if not p["schema"]:
            p["schema"] = "main"
        return p

    def _bare(self, table: str) -> str:
        # sqlite has no user schemas: fold schema.table -> table
        return self._parsed(table)["name"]

    def table_exists(self, table: str) -> bool:
        row = self.fetch_one(
            "select count(*) from sqlite_master where type = 'table' "
            f"and name = '{self._bare(table)}'")
        return bool(row and row[0])

    def ensure_schema(self, table: str) -> None:
        pass  # no schemas in sqlite

    def columns(self, table: str) -> list[tuple[str, str]]:
        return [(r[1], r[2] or "text") for r in self.fetch_all(
            f"pragma table_info(\"{self._bare(table)}\")")]

    def get_count(self, table: str) -> int:
        return int(self.fetch_one(
            f"select count(*) from \"{self._bare(table)}\"")[0])

    # -- staged-batch surface -------------------------------------------
    def _scan(self, glob: str):
        import glob as _glob

        import pyarrow.parquet as pq

        for f in sorted(_glob.glob(glob)):
            yield pq.read_table(f)

    def count_staged(self, glob: str) -> int:
        return sum(t.num_rows for t in self._scan(glob))

    def classify_json(self, glob: str, str_cols: list[str],
                      limit: int = 900) -> list[str]:
        import json as _json

        out = []
        for c in str_cols:
            seen = ok = 0
            for t in self._scan(glob):
                if c not in t.column_names:
                    break
                for v in t.column(c).to_pylist()[:limit - seen]:
                    if v is None:
                        continue
                    seen += 1
                    s = str(v).strip()
                    if s[:1] in ("{", "["):
                        try:
                            _json.loads(s)
                            ok += 1
                            continue
                        except ValueError:
                            pass
                if seen >= limit:
                    break
            if seen and seen == ok:
                out.append(c)
        return out

    def max_abs(self, glob: str, col: str):
        mx = None
        for t in self._scan(glob):
            if col not in t.column_names:
                return None
            for v in t.column(col).to_pylist():
                if v is None:
                    continue
                a = abs(float(v))
                mx = a if mx is None else max(mx, a)
        return mx

    @staticmethod
    def _adapt(v):
        from datetime import date, datetime as _dt
        from decimal import Decimal

        if isinstance(v, _dt):
            return v.isoformat(sep=" ")
        if isinstance(v, date):
            return v.isoformat()
        if isinstance(v, Decimal):
            return str(v)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, (dict, list)):
            # nested struct/array columns land as JSON text (the
            # reference's row-store writers serialize the same way)
            import json as _json

            return _json.dumps(v, default=str)
        return v

    def ingest(self, table: str, columns: list[str], glob: str,
               json_cols=(), batch_rows: int = 5000) -> None:
        q = self.dialect.quote
        tname = f'"{self._bare(table)}"'
        sql = (f"insert into {tname} "
               f"({', '.join(q(c) for c in columns)}) values "
               f"({', '.join('?' for _ in columns)})")
        cur = self.con.cursor()
        for t in self._scan(glob):
            cols = [t.column(c).to_pylist() if c in t.column_names
                    else [None] * t.num_rows for c in columns]
            rows = [tuple(self._adapt(col[i]) for col in cols)
                    for i in range(t.num_rows)]
            for i in range(0, len(rows), batch_rows):
                cur.executemany(sql, rows[i:i + batch_rows])
        self.con.commit()

    def stage_keyset(self, name: str, glob: str) -> None:
        # derive the keyset temp table's shape from the first file
        import glob as _glob

        import pyarrow.parquet as pq

        files = sorted(_glob.glob(glob))
        sch = pq.read_schema(files[0])
        qn = self.dialect.quote(self._bare(name))
        self.execute(f"drop table if exists {qn}")
        self.execute(f"create table {qn} "
                     f"({', '.join(chr(34) + f.name + chr(34) for f in sch)})")
        self.ingest(name, [f.name for f in sch], glob)

    def export_sql(self, sql: str, path: str,
                   table_hint: str | None = None) -> None:
        """Bulk-unload a SELECT to parquet — sqlite has no file-direct
        COPY, so rows batch through arrow on the driver (the same
        generic path the reference uses for engines without unload,
        database.go StreamRows -> filesys write). ``table_hint``
        recovers DECLARED column types the cursor can't see (sqlite
        stores booleans as ints; the declared type is the contract)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        declared = {}
        if table_hint:
            try:
                # pragma rows: (cid, name, type, notnull, dflt, pk)
                declared = {r[1].lower(): (r[2] or "").lower()
                            for r in self.fetch_all(
                                f"pragma table_info(\"{table_hint}\")")}
            except Exception:
                declared = {}
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description or []]
        writer = None
        while True:
            rows = cur.fetchmany(10000)
            if not rows:
                break
            cols = list(zip(*rows)) if rows else [[] for _ in names]
            arrays = {}
            for n, c in zip(names, cols):
                vals = list(c)
                if declared.get(n.lower(), "").startswith("bool"):
                    vals = [None if v is None else bool(v) for v in vals]
                arrays[n] = vals
            t = pa.table(arrays)
            if writer is None:
                writer = pq.ParquetWriter(path, t.schema)
            writer.write_table(t)
        if writer is None:
            # empty result: schema-only file from a LIMIT 0 re-run
            cur = self.con.execute(f"select * from ({sql}) limit 0")
            names = [d[0] for d in cur.description or []]
            t = pa.table({n: pa.array([], pa.string()) for n in names})
            writer = pq.ParquetWriter(path, t.schema)
            writer.write_table(t)
        writer.close()

    def rename_table(self, tmp: str, final_name: str) -> None:
        self.execute(f"alter table \"{self._bare(tmp)}\" rename to "
                     f"\"{final_name}\"")


def open_duckdb(conn: str) -> DuckDBTarget:
    """``duckdb://<path>`` / ``duckdb:<path>`` → a live connection
    (empty path = in-memory). DuckDB shares one database instance per
    path within a process, so a source connection and a target
    connection on the same file coexist."""
    path = conn
    for prefix in ("duckdb://", "duckdb:"):
        if path.startswith(prefix):
            path = path[len(prefix):]
            break
    return DuckDBTarget(path or None)


# --- DB-source staging-dir lifecycle (ADVICE r12) -------------------------
# Each read_db_source export stages under the OS temp root; the returned
# scan reads it LAZILY, so the dir must outlive the call. Callers that
# own the consuming action (run / run_db / the CLI) build the plan and
# run the action inside a db_source_stages() scope: the exports made in
# it land in the scope's OWN list, removed when the scope exits. The
# scope lives in a contextvar, so calls overlapping on other threads
# (replication streams, pipeline groups with concurrency > 1) never
# remove each other's stages. Exports made outside any scope (a lazy
# caller, e.g. a registered query the driver collects itself) go to
# _DBSRC_STAGES, reaped at interpreter exit.
_DBSRC_STAGES: list[str] = []
_STAGE_SCOPE: ContextVar[list[str] | None] = ContextVar(
    "sling_dbsrc_stage_scope", default=None)


@contextmanager
def db_source_stages():
    """Scope whose DB-source staging dirs are removed on exit. Exit it
    ONLY after the consuming action (write/collect) has run — the
    staged parquet backs a lazy scan until then."""
    stages: list[str] = []
    token = _STAGE_SCOPE.set(stages)
    try:
        yield stages
    finally:
        _STAGE_SCOPE.reset(token)
        for stage in stages:
            shutil.rmtree(stage, ignore_errors=True)


def release_db_source_stages() -> None:
    """Remove every unscoped DB-source staging dir (same caveat as
    :func:`db_source_stages`)."""
    while _DBSRC_STAGES:
        shutil.rmtree(_DBSRC_STAGES.pop(), ignore_errors=True)


atexit.register(release_db_source_stages)


def _render_db_source_sql(source, d, skip_filters=None):
    """Render the DB-source SELECT (reference: task_run_read.go:141-261).

    A bare table gets ``select *`` plus the pushed incremental/backfill
    WHERE and ``source.where``; SQL text gets its
    ``{incremental_where_cond}`` token substituted (``1=1`` on the
    first run, exactly the reference's behavior). Returns
    ``(sql, where_pushed, parsed)``."""
    from sling_cli_spark.dialects import sql_literal

    parsed = parse_table_name(source.stream or "", d.name)
    cond = "1=1"
    if skip_filters:
        cond = " and ".join(
            f"{d.quote(c)} {op} {sql_literal(v)}"
            for c, op, v in skip_filters)
    if parsed["sql"]:
        sql = parsed["sql"].replace("{incremental_where_cond}", cond)
        where_pushed = True
    else:
        sql = f"select * from {source.stream}"
        conds = [cond] if skip_filters else []
        # source.where pushes into the DB SELECT like the reference
        # (task_run_read.go fills cfg.Source.Where into the rendered
        # SQL); the Spark-side filter downstream stays authoritative,
        # so a dialect-incompatible expression falls back to a full
        # export instead of failing the run
        if source.where:
            conds.append(f"({source.where})")
        sql += f" where {' and '.join(conds)}" if conds else ""
        where_pushed = bool(source.where)
    return sql, where_pushed, parsed


def db_source_is_empty(spark: SparkSession, source, db=None) -> bool:
    """LIMIT-1 existence probe on a DB source — the cheap twin of the
    reference's empty-stream gate (task_run_write.go:33/414). Avoids
    the full COPY-TO export ``build_read_plan().isEmpty()`` would
    trigger just to learn whether any row exists (ADVICE r12). A probe
    that errors reports non-empty: the real run owns the failure."""
    own = db is None
    db = db or open_db(source.conn or "")
    try:
        sql, _, _ = _render_db_source_sql(source, db.dialect)
        try:
            return db.fetch_one(
                f"select 1 from ({sql}) as _sling_probe limit 1") is None
        except Exception as exc:
            # a probe that errors reports non-empty so the real run owns
            # the failure — but surface it: a permissions error here
            # silently skips the empty-stream contract otherwise
            logger.warning("empty-stream probe failed (treating source "
                           "as non-empty): %s", exc)
            return False
    finally:
        if own:
            db.close()


def open_db(conn: str):
    """Open a DB-source/target handle by URL scheme: ``duckdb://`` /
    ``duckdb:`` or ``sqlite://`` / ``sqlite:`` (both live embedded
    twins of the reference's connection registry)."""
    c = conn or ""
    if c.startswith(("sqlite://", "sqlite:")):
        path = c
        for prefix in ("sqlite://", "sqlite:"):
            if path.startswith(prefix):
                path = path[len(prefix):]
                break
        return SQLiteTarget(path or None)
    return open_duckdb(c)


def _chunk_bounds(lo, hi, chunk_size=None, chunk_count=None):
    """Range boundaries for a chunked DB read (reference
    replication.go:688-933 ProcessChunks): ``chunk_size`` is a span —
    numeric, or temporal with d/h/m/y units (``10d``, ``2m``);
    ``chunk_count`` splits evenly. Returns [(lo, hi), ...] half-open
    except the last (inclusive), covering [lo, hi]."""
    import datetime as _dt

    if lo is None or hi is None or lo == hi:
        return [(lo, hi)]
    temporal = isinstance(lo, (_dt.date, _dt.datetime))
    integral = (isinstance(lo, int) and isinstance(hi, int)
                and not isinstance(lo, bool) and not isinstance(hi, bool))
    if chunk_count:
        n = max(1, int(chunk_count))
        if temporal:
            span = (hi - lo) / n
            edges = [lo + span * i for i in range(n)] + [hi]
        elif integral:
            # integer edge math: float spans lose precision above 2^53
            # (a BIGINT surrogate key near an edge would land in
            # neither/both chunks only via the </>= pairing, and chunk
            # sizing drifts) — VERDICT r13 nit #1
            edges = [lo + (hi - lo) * i // n for i in range(n)] + [hi]
        else:
            span = (float(hi) - float(lo)) / n
            edges = [float(lo) + span * i for i in range(n)] + [float(hi)]
        return [(edges[i], edges[i + 1]) for i in range(n)]
    s = str(chunk_size).strip().lower()
    if temporal:
        unit, num = s[-1], float(s[:-1] or 1)
        if unit == "m":      # months
            def add(dt, k):
                mo = dt.month - 1 + int(num) * k
                return dt.replace(year=dt.year + mo // 12,
                                  month=mo % 12 + 1, day=1)
            edges, k = [lo], 1
            while edges[-1] < hi:
                nxt = add(lo, k)
                edges.append(min(nxt, hi) if nxt > lo else hi)
                k += 1
                if len(edges) > 10000:
                    break
            return [(edges[i], edges[i + 1])
                    for i in range(len(edges) - 1)] or [(lo, hi)]
        step = _dt.timedelta(**{
            "d": {"days": num}, "h": {"hours": num},
            "w": {"weeks": num}, "y": {"days": num * 365}}.get(
                unit, {"days": num}))
        edges = [lo]
        while edges[-1] < hi:
            edges.append(min(edges[-1] + step, hi))
            if len(edges) > 10000:
                break
        return [(edges[i], edges[i + 1])
                for i in range(len(edges) - 1)] or [(lo, hi)]
    width = float(s)
    if width <= 0:
        return [(lo, hi)]
    if integral and width == int(width):
        # integer edges for integral keys (r13 nit #1): exact above 2^53
        iw = int(width)
        edges = [lo]
        while edges[-1] < hi:
            edges.append(min(edges[-1] + iw, hi))
            if len(edges) > 100000:
                break
        return [(edges[i], edges[i + 1])
                for i in range(len(edges) - 1)] or [(lo, hi)]
    edges = [float(lo)]
    while edges[-1] < float(hi):
        edges.append(min(edges[-1] + width, float(hi)))
        if len(edges) > 100000:
            break
    return [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)] \
        or [(lo, hi)]


def read_db_source(spark: SparkSession, source, skip_filters=None,
                   db=None):
    """Database SOURCE scan (reference: task_run_read.go:141-261).

    Renders the SELECT (:func:`_render_db_source_sql`), then exports the
    result via the dialect's file-direct COPY TO staged parquet and
    returns a distributed scan over the staged files. The export is
    the same shape as the reference's bulk unload (duckdb.yaml
    copy_to_local); at warehouse scale the chunked-JDBC reader
    (sources/jdbc.read_jdbc) is the parallel twin.

    With ``chunk_size``/``chunk_count`` + an ``update_key`` the export
    SPLITS into ranged unloads over the rendered SELECT (so `where` and
    the incremental/backfill conditions bound every chunk — the r.106
    contract), one staged file per range: independent statements a
    cluster can fan out, and the resulting scan starts with one split
    per chunk (reference ProcessChunks, replication.go:688-933)."""
    db = db or open_db(source.conn or "")
    d = db.dialect
    sql, where_pushed, parsed = _render_db_source_sql(
        source, d, skip_filters)
    # staged under the OS temp root; the scan reads it lazily so the
    # files must outlive this call — tracked by the consuming action's
    # db_source_stages() scope (or _DBSRC_STAGES + atexit), so a
    # long-lived session never accumulates unbounded export copies
    stage = tempfile.mkdtemp(prefix="sling_dbsrc_")
    scope = _STAGE_SCOPE.get()
    (_DBSRC_STAGES if scope is None else scope).append(stage)
    path = os.path.join(stage, "src.parquet")
    hint = {} if parsed["sql"] else {"table_hint": parsed["name"]}
    uk = source.update_key
    opts = getattr(source, "options", None)
    if uk and opts is not None and (opts.chunk_size or opts.chunk_count):
        from sling_cli_spark.dialects import sql_literal

        row = db.fetch_one(
            f"select min({d.quote(uk)}), max({d.quote(uk)}) "
            f"from ({sql}) as _sling_b")
        ranges = _chunk_bounds(row[0] if row else None,
                               row[1] if row else None,
                               opts.chunk_size, opts.chunk_count)
        if len(ranges) > 1:
            for i, (clo, chi) in enumerate(ranges):
                last = i == len(ranges) - 1
                cond = (f"{d.quote(uk)} >= {sql_literal(clo)} and "
                        f"{d.quote(uk)} "
                        f"{'<=' if last else '<'} {sql_literal(chi)}")
                db.export_sql(
                    f"select * from ({sql}) as _sling_c where {cond}",
                    os.path.join(stage, f"chunk_{i:05d}.parquet"),
                    **hint)
            return spark.read.parquet(stage)
    try:
        db.export_sql(sql, path, **hint)
    except Exception:
        if not where_pushed or parsed["sql"]:
            raise
        # retry without the pushed where (Spark re-filters)
        cond = "1=1"
        if skip_filters:
            from sling_cli_spark.dialects import sql_literal
            cond = " and ".join(
                f"{d.quote(c)} {op} {sql_literal(v)}"
                for c, op, v in skip_filters)
        sql = f"select * from {source.stream}"
        if skip_filters:
            sql += f" where {cond}"
        db.export_sql(sql, path)
    return spark.read.parquet(path)


def discover_db(db, pattern: str = "", level: str = "table"):
    """Discovery over the live catalog (reference: connection.Discover,
    suite ``mode: discover`` cases — levels schema/table/column, glob
    patterns like ``schema.tbl_v*``)."""
    d = db.dialect
    if level == "schema":
        return [r[0] for r in db.fetch_all(d.metadata_sql("schemas"))]
    p = parse_table_name(pattern or "", d.name)
    if level == "column":
        if "*" in (p["name"] or ""):
            # wildcard: columns of every matching table in the schema
            out = []
            for tbl in discover_db(db, pattern, "table"):
                full = (f"{p['schema']}.{tbl}" if p["schema"] else tbl)
                for name, native in db.columns(full):
                    out.append({
                        "table_name": tbl, "column_name": name,
                        "data_type": native,
                        "general_type": general_type_from_native(native, d.name)})
            return out
        return [
            {"column_name": name, "data_type": native,
             "general_type": general_type_from_native(native, d.name)}
            for name, native in db.columns(pattern)
        ]
    schema = p["schema"] or "main"
    names = [r[1] for r in db.fetch_all(
        d.metadata_sql("tables", schema=schema))]
    names += [r[1] for r in db.fetch_all(
        d.metadata_sql("views", schema=schema))]
    pat = p["name"] or "*"
    return sorted(n for n in names
                  if fnmatch.fnmatch(n.lower(), pat.lower()))


def _exec_hook(db, sql: str) -> None:
    for stmt in parse_sql_multi_statements(sql, db.dialect.name):
        if stmt.strip():
            db.execute(stmt)


def _widen_needed(existing_native: str, incoming_general: str) -> bool:
    """True when the incoming general type strictly widens the live
    column (reference OptimizeTable: int→decimal→string, widening only
    — never narrow a column under the user's data)."""
    from sling_cli_spark.types import ColumnType, widen

    try:
        ex = ColumnType(general_type_from_native(existing_native))
        inc = ColumnType(incoming_general)
    except ValueError:
        return False
    if ex == inc:
        return False
    return widen(ex, inc) == inc


def _json_string_columns(db, glob: str, df, limit: int = 900) -> list[str]:
    """String columns whose sampled values all parse as JSON objects/
    arrays — the reference keeps Column.Type=json through to DDL
    (dataset.go:611 looksLikeJson); a Spark string column loses that,
    so re-classify on the staged batch (engine-specific sample scan)."""
    str_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() == "string"]
    if not str_cols:
        return []
    return db.classify_json(glob, str_cols, limit)


_DECIMAL_RE = re.compile(r"(?:decimal|numeric)\((\d+)\s*,\s*(\d+)\)")


def _exec_modify(db, table: str, stmt: str) -> None:
    """Run an ALTER COLUMN; DuckDB refuses to alter a table with
    dependent indexes ("entries that depend on it"), so on failure the
    indexes drop, the ALTER runs, and they recreate from their stored
    DDL — the same table_keys the loader created."""
    try:
        db.execute(stmt)
        return
    except Exception:
        p = db._parsed(table) if hasattr(db, "_parsed") else None
        if p is None:
            raise
    idx = db.fetch_all(
        "select index_name, sql from duckdb_indexes() "
        f"where table_name = '{p['name']}' "
        f"and schema_name = '{p['schema']}'")
    for name, _sql in idx:
        db.execute(f'drop index "{p["schema"]}"."{name}"')
    db.execute(stmt)
    for _name, sql in idx:
        if sql:
            db.execute(sql)


def _widen_decimal(db, table: str, col: str, existing_native: str,
                   inc_type, glob: str | None) -> None:
    """Grow a target decimal's precision/scale when the staged batch
    carries wider values — the reference's OptimizeTable compares
    column stats and ALTERs before the merge (database.go:3556-3574),
    which is exactly why suite case 9 can upsert ``rating=1234567``
    into a column inferred decimal(6,3) from the first file."""
    tmpl = db.dialect.template("modify_column") or ""
    if "alter" not in tmpl.lower():
        return  # dialect cannot ALTER a column type (e.g. sqlite)
    m = _DECIMAL_RE.search(existing_native.lower())
    if not m or not glob:
        return
    p1, s1 = int(m.group(1)), int(m.group(2))
    q = db.dialect.quote(col)
    mx = db.max_abs(glob, col)
    if mx is None:
        return
    need_int = len(str(int(mx))) if mx >= 1 else 1
    s2 = (inc_type.scale if inc_type.typeName() == "decimal"
          else 6 if inc_type.typeName() in ("double", "float") else 0)
    s = max(s1, s2)
    int_digits = max(p1 - s1, need_int)
    p = min(int_digits + s, 38)
    if p > p1 or s > s1:
        _exec_modify(db, table, render(
            db.dialect.template("modify_column"), {
                "table": table, "column": q,
                "type": db.dialect.types["decimal"].format(p=p, s=s)}))


def _align_schema(db, table: str, df, opts, max_lens, column_typing,
                  general_overrides=None, glob: str | None = None):
    """add_new_columns / adjust_column_type against the live table;
    returns the insertable column list (df ∩ target when
    add_new_columns is off)."""
    from sling_cli_spark.dialects import _SPARK_TO_GENERAL

    d = db.dialect
    overrides = {k.lower(): v for k, v in (general_overrides or {}).items()}
    existing = {n.lower(): nat for n, nat in db.columns(table)}
    insertable = []
    for f in df.schema.fields:
        gen_override = overrides.get(f.name.lower())
        if gen_override and gen_override in d.types \
                and gen_override not in ("string", "decimal"):
            nat = d.types[gen_override]
        else:
            nat = native_type_for(d, f.dataType, max_lens.get(f.name),
                                  column_typing)
        if f.name.lower() not in existing:
            if not opts.add_new_columns:
                continue  # column silently dropped from the load
            db.execute(render(d.template("add_column"), {
                "table": table, "column": d.quote(f.name), "type": nat}))
        elif opts.adjust_column_type:
            gen = _SPARK_TO_GENERAL.get(f.dataType.typeName(), "string")
            if f.dataType.typeName() == "decimal":
                gen = "decimal"
            ex_native = existing[f.name.lower()]
            ex_gen = general_type_from_native(ex_native, d.name)
            if ex_gen == "decimal" and gen in (
                    "decimal", "bigint", "integer", "smallint", "float"):
                _widen_decimal(db, table, f.name, ex_native,
                               f.dataType, glob)
            elif _widen_needed(ex_native, gen) \
                    and "alter" in (d.template("modify_column")
                                    or "").lower():
                _exec_modify(db, table, render(
                    d.template("modify_column"), {
                        "table": table, "column": d.quote(f.name),
                        "type": nat}))
        insertable.append(f.name)
    return insertable


def _exec_ddl(db, ddl: str) -> None:
    """DDL may be multi-statement when table_ddl is a custom template."""
    for stmt in parse_sql_multi_statements(ddl):
        if stmt.strip():
            db.execute(stmt)


def run_db(spark: SparkSession, cfg: Config, db,
           merge_hooks=None, watermark_override=None,
           want_new_watermark=False) -> TaskResult:
    """Execute a task config whose TARGET is a database table.

    Owns the consuming actions for every plan it builds, so DB-source
    staging dirs created during the run are released on exit."""
    with db_source_stages():
        return _run_db_impl(spark, cfg, db, merge_hooks=merge_hooks,
                            watermark_override=watermark_override,
                            want_new_watermark=want_new_watermark)


def _run_db_impl(spark: SparkSession, cfg: Config, db,
                 merge_hooks=None, watermark_override=None,
                 want_new_watermark=False) -> TaskResult:
    d = db.dialect
    opts = cfg.target.options
    table = cfg.target.object or ""
    if opts.pre_sql:
        _exec_hook(db, opts.pre_sql)

    # PK defaulting from the column DSL (same as runner.run)
    specs = _column_specs(cfg)
    if specs and not cfg.source.primary_key:
        from sling_cli_spark.operators.column_modifiers import (
            specs_primary_key)

        pk_dsl = specs_primary_key(specs)
        if pk_dsl:
            cfg.source.primary_key = pk_dsl
    pk = list(cfg.source.primary_key or
              (opts.table_keys or {}).get("primary") or [])

    exists = db.table_exists(table)
    watermark = None
    uk = cfg.source.update_key
    src_is_db_conn = (cfg.source.conn or "").startswith(
        ("duckdb:", "jdbc:", "sqlite:"))
    if watermark_override is not None:
        # SLING_STATE-backed runs carry the watermark from the state
        # store instead of a target max() probe (reference
        # setIncrementalValueViaState; p.17's executable contract)
        watermark = watermark_override
    elif (not src_is_db_conn and uk == "_sling_loaded_at"
            and cfg.mode == Mode.INCREMENTAL):
        # FILE source incremental by _sling_loaded_at is the reference's
        # file-level state incremental (config.go:383): new FILES since
        # the last run load in full — the watermark lives in the run
        # STATE (file mtimes), never in the target's column values. No
        # state here -> every file is new; state-carrying runs go
        # through runner.run_with_state.
        pass
    elif cfg.mode in (Mode.INCREMENTAL, Mode.CHANGE_CAPTURE) and uk \
            and exists:
        live_cols = {n.lower() for n, _ in db.columns(table)}
        if uk.lower() in live_cols:
            watermark = db.fetch_one(
                f"select max({d.quote(uk)}) "
                f"from {d.quote_table(table)}")[0]

    backfill_range = None
    if cfg.mode == Mode.BACKFILL and cfg.source.options.range:
        backfill_range = tuple(
            s.strip() for s in cfg.source.options.range.split(",", 1))
    df = build_read_plan(spark, cfg, watermark=watermark,
                         backfill_range=backfill_range)
    from sling_cli_spark.runner import enforce_constraint_policy

    enforce_constraint_policy(cfg, df)
    run_ts = datetime.now(timezone.utc)
    df = prepare_for_mode(df, cfg.mode, run_ts=run_ts)
    # FileToDB loads stamp _sling_loaded_at by default — unix seconds,
    # SLING_LOADED_AT_COLUMN=timestamp switches to a timestamp, =false
    # disables (reference config.go:436-437, task.go:344-352)
    src_is_db = (cfg.source.conn or "").startswith(
        ("duckdb:", "jdbc:", "sqlite:"))
    # SLING_SYNCED_AT_COLUMN=true switches to the synced-at metadata
    # pair: _sling_synced_at (run-start timestamp) + _sling_synced_op
    # ('I' on insert; merges flip matched rows to 'U', soft
    # delete_missing stamps 'D') — reference task.go:343-347,
    # config.go:173-179 (it also REPLACES loaded_at, and DeletedAt
    # folds onto SyncedAt). Pinned by r.85.
    synced_env = str((cfg.env or {}).get(
        "SLING_SYNCED_AT_COLUMN",
        os.environ.get("SLING_SYNCED_AT_COLUMN", ""))).lower()
    synced_on = synced_env in ("true", "1", "yes")
    if synced_on and cfg.mode != Mode.SNAPSHOT:
        from pyspark.sql import functions as F

        if "_sling_synced_at" not in df.columns:
            df = df.withColumn("_sling_synced_at", F.lit(run_ts))
        if "_sling_synced_op" not in df.columns:
            df = df.withColumn("_sling_synced_op", F.lit("I"))
    loaded_env = (cfg.env or {}).get(
        "SLING_LOADED_AT_COLUMN",
        os.environ.get("SLING_LOADED_AT_COLUMN", ""))
    explicit_loaded = loaded_env.lower() not in ("", "false", "0")
    if (not synced_on and (not src_is_db or explicit_loaded)
            and cfg.mode != Mode.SNAPSHOT
            and "_sling_loaded_at" not in df.columns
            and loaded_env.lower() not in ("false", "0")):
        from pyspark.sql import functions as F

        val = (F.lit(run_ts) if loaded_env == "timestamp"
               else F.lit(int(run_ts.timestamp())))
        df = df.withColumn("_sling_loaded_at", val)

    # stage the batch: executors write parquet, the DB ingests the files
    stage = tempfile.mkdtemp(prefix="sling_dbstage_")
    try:
        df.write.mode("overwrite").parquet(stage)
        glob = os.path.join(stage, "*.parquet")
        stream_count = db.count_staged(glob)
        import glob as _glob

        stage_bytes = sum(os.path.getsize(f) for f in _glob.glob(glob))

        max_lens = {s.name: s.length for s in specs if s.length}
        column_typing = opts.column_typing
        gen_overrides = {c: "json" for c in
                         _json_string_columns(db, glob, df)}
        for s in specs:  # declared DSL types win over re-classification
            gen_overrides[s.name] = s.type.value

        def ddl_for(tbl: str) -> str:
            ddl = create_table_ddl(
                d, d.quote_table(tbl), df.schema, max_lens=max_lens,
                column_typing=column_typing,
                primary_key=pk if (opts.table_keys or {}).get("primary")
                else None,
                general_overrides=gen_overrides)
            if opts.table_ddl:
                # custom DDL template (TableDDL, config.go:1757 /
                # task_run_write.go:714): {object.full_name} and
                # {col_types} render; the generated DDL's column list
                # is reused so typing stays stats-driven
                col_types = ddl[ddl.index("(") + 1:ddl.rindex(")")]
                # dotted placeholders pre-substitute (the template
                # renderer's {name} grammar is flat)
                tpl = (opts.table_ddl
                       .replace("{object.full_name}", d.quote_table(tbl))
                       .replace("{object.name}",
                                parse_table_name(tbl, d.name)["name"]))
                ddl = render(tpl, {
                    "col_types": col_types,
                    "table": d.quote_table(tbl),
                })
            return ddl

        _json_cols = {k.lower() for k, v in gen_overrides.items()
                      if v == "json"}

        def insert_from_stage(tbl: str, columns=None) -> None:
            db.ingest(tbl, list(columns or df.columns), glob,
                      json_cols=_json_cols)

        db.ensure_schema(table)
        p = parse_table_name(table, d.name)
        strategy = opts.merge_strategy.value if opts.merge_strategy else None

        if cfg.mode in (Mode.FULL_REFRESH, Mode.SNAPSHOT,
                        Mode.DEFINITION_ONLY) and (
                cfg.mode == Mode.FULL_REFRESH or not exists):
            if cfg.mode == Mode.FULL_REFRESH:
                # temp-table swap: the live target serves until the swap
                tmp = (f"{p['schema']}." if p["schema"] != "main"
                       else "") + f"{p['name']}_sling_swap_tmp"
                db.execute(render(d.template("drop_table"),
                                  {"table": d.quote_table(tmp)}))
                _exec_ddl(db, ddl_for(tmp))
                insert_from_stage(tmp)
                db.execute(render(d.template("drop_table"),
                                  {"table": d.quote_table(table)}))
                db.rename_table(tmp, p["name"])
            else:
                _exec_ddl(db, ddl_for(table))
                if cfg.mode != Mode.DEFINITION_ONLY:
                    insert_from_stage(table)
        elif cfg.mode == Mode.TRUNCATE:
            if exists:
                db.execute(render(d.template("truncate_table"),
                                  {"table": d.quote_table(table)}))
                cols = _align_schema(db, table, df, opts, max_lens,
                                     column_typing, gen_overrides, glob)
            else:
                _exec_ddl(db, ddl_for(table))
                cols = df.columns
            insert_from_stage(table, cols)
        elif not exists:
            # first incremental/backfill/snapshot-append run: plain create
            _exec_ddl(db, ddl_for(table))
            insert_from_stage(table)
        elif not pk or cfg.mode == Mode.SNAPSHOT:
            # append (incremental without PK, snapshot onto existing).
            # SNAPSHOT always appends even when a primary_key is
            # configured (e.g. via the columns DSL) — the reference
            # stamps _sling_loaded_at and keeps every prior snapshot
            # row; merging would destroy history (ADVICE r12).
            cols = _align_schema(db, table, df, opts, max_lens,
                                 column_typing, gen_overrides, glob)
            insert_from_stage(table, cols)
        else:
            # staged merge: temp table, count validation, rendered
            # strategy (dialect default when unset), delete_missing
            cols = _align_schema(db, table, df, opts, max_lens,
                                 column_typing, gen_overrides, glob)
            keyset_tmp = None
            ks_stage = None
            dmc = delete_missing_config(opts.delete_missing)
            soft_fields = None
            if dmc and dmc["type"] == "soft":
                # soft delete marks rows via _sling_synced_op = 'D' AND
                # stamps _sling_deleted_at (the reference's reserved
                # DeletedAt field, env.go:79; the r.104 corpus asserts
                # on it); self-provision both marker columns. NOTE: the
                # OSS reference STUBS delete_missing entirely
                # (task_run.go:30 warn-only) — this engine implements it.
                live = {n.lower() for n, _ in db.columns(table)}
                # synced-at mode folds DeletedAt onto SyncedAt
                # (config.go:176) — the 'D' stamp lands in
                # _sling_synced_at, not _sling_deleted_at (r.85)
                stamp_col = ("_sling_synced_at" if synced_on
                             else "_sling_deleted_at")
                if "_sling_synced_op" not in live:
                    db.execute(render(d.template("add_column"), {
                        "table": table,
                        "column": d.quote("_sling_synced_op"),
                        "type": d.types["string"].format(len=1)}))
                if stamp_col not in live:
                    db.execute(render(d.template("add_column"), {
                        "table": table,
                        "column": d.quote(stamp_col),
                        "type": d.types["timestamp"]}))
                soft_fields = ("_sling_synced_op = 'D', "
                               f"{stamp_col} = current_timestamp")
            if dmc:
                # keyset = the FULL source snapshot, never the batch;
                # source_where scopes which source rows count as present
                # (extended config, config.go:1846-1852)
                ks_stage = tempfile.mkdtemp(prefix="sling_dbks_")
                ks = build_read_plan(spark, cfg, full_source=True)
                if dmc["source_where"]:
                    from pyspark.sql import functions as F

                    ks = ks.filter(F.expr(dmc["source_where"]))
                ks = ks.select(*pk)
                ks.write.mode("overwrite").parquet(ks_stage)
                keyset_tmp = f"{p['name']}_sling_keyset_tmp"
                db.stage_keyset(keyset_tmp,
                                os.path.join(ks_stage, "*.parquet"))

            def write_stage(tmp_table: str) -> None:
                _exec_ddl(db, ddl_for(tmp_table))
                insert_from_stage(tmp_table, cols)

            if d.name in ("sqlite", "d1"):
                # sqlite upserts ride INSERT..ON CONFLICT, which needs
                # a UNIQUE constraint on the PK — the loader provisions
                # the unique index (the reference's sqlite loader does
                # the same; see dialects.py sqlite comment)
                bare = parse_table_name(table, d.name)["name"]
                idx = f"uq_{bare}_{'_'.join(pk)}"[:63]
                db.execute(
                    f'create unique index if not exists "{idx}" '
                    f'on "{bare}" ({", ".join(d.quote(c) for c in pk)})')

            try:
                # stream-level pre_merge/post_merge hooks fire AROUND
                # the merge statement (reference HookMap stages; r.61's
                # SET IDENTITY_INSERT bracket) — the staging above and
                # cleanup below stay outside them
                if merge_hooks and merge_hooks[0]:
                    merge_hooks[0]()
                staged_db_load(
                    db.execute, db.fetch_one, d.name, table,
                    cols, pk, write_stage,
                    strategy=strategy, expect_count=stream_count,
                    delete_missing=dmc["type"] if dmc else None,
                    keyset_table=keyset_tmp,
                    delete_where=(dmc or {}).get("target_where") or None,
                    soft_fields=soft_fields)
                if merge_hooks and merge_hooks[1]:
                    merge_hooks[1]()
            finally:
                if keyset_tmp:
                    db.execute("drop table if exists "
                               f"{d.quote_table(keyset_tmp)}")
                if ks_stage:
                    shutil.rmtree(ks_stage, ignore_errors=True)

        if opts.table_keys:
            from sling_cli_spark.dialects import table_keys_ddl

            for stmt in table_keys_ddl(d, table, opts.table_keys, specs):
                try:
                    db.execute(stmt)
                except Exception as e:
                    # idempotent re-run: a pre-existing index is fine;
                    # anything else (typo'd key column, bad DDL) must
                    # surface, not vanish (VERDICT r12 nit #2)
                    msg = str(e).lower()
                    if "exist" in msg or "duplicate" in msg:
                        continue
                    logger.warning("table_keys DDL failed: %s -- %s",
                                   stmt, e)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    if opts.post_sql:
        _exec_hook(db, opts.post_sql)
    if want_new_watermark and uk and uk in df.columns:
        # state-backed runs persist the POST-load high-water mark (the
        # file path derives it from the write Observation; here the
        # landed table answers it directly)
        try:
            row = db.fetch_one(
                f"select max({d.quote(uk)}) "
                f"from {d.quote_table(table)}")
            if row and row[0] is not None:
                watermark = row[0]
        except Exception:
            pass
    return TaskResult(rows=stream_count, columns=list(df.columns),
                      mode=cfg.mode.value, watermark=watermark,
                      bytes=stage_bytes)


class DbStateStore:
    """DB-backed incremental state (reference ``SLING_STATE:
    CONN/schema`` — setIncrementalValueViaState / getIncrementalValue
    ViaState, task_run.go): watermarks persist in a
    ``<schema>._sling_state`` table keyed by source stream, with the
    value serialized as text plus its ``column_type`` so the next run
    re-parses it correctly (p.17 asserts column_type='datetime')."""

    def __init__(self, db, schema: str = "sling_state"):
        self.db = db
        self.schema = schema
        db.execute(f'create schema if not exists "{schema}"')
        db.execute(
            f'create table if not exists "{schema}"."_sling_state" ('
            "source_stream varchar, value varchar, column_type varchar, "
            "updated_at timestamp)")

    def get(self, key: str):
        row = self.db.fetch_one(
            f'select value, column_type from "{self.schema}"'
            f'."_sling_state" where source_stream = \'{key}\'')
        if not row or row[0] is None:
            return None
        val, ctype = row[0], (row[1] or "").lower()
        if ctype in ("datetime", "timestamp"):
            from datetime import datetime as _dt

            try:
                return _dt.fromisoformat(val)
            except ValueError:
                return val
        if ctype in ("integer", "bigint"):
            return int(val)
        if ctype in ("float", "decimal"):
            return float(val)
        return val

    def set(self, key: str, watermark) -> None:
        import datetime as _dt

        if isinstance(watermark, _dt.datetime):
            ctype, val = "datetime", watermark.isoformat(sep=" ")
        elif isinstance(watermark, _dt.date):
            ctype, val = "date", watermark.isoformat()
        elif isinstance(watermark, bool):
            ctype, val = "boolean", str(watermark).lower()
        elif isinstance(watermark, int):
            ctype, val = "integer", str(watermark)
        elif isinstance(watermark, float):
            ctype, val = "float", repr(watermark)
        else:
            ctype, val = "string", str(watermark)
        key_sql = key.replace("'", "''")
        val_sql = val.replace("'", "''")
        self.db.execute(
            f'delete from "{self.schema}"."_sling_state" '
            f"where source_stream = '{key_sql}'")
        self.db.execute(
            f'insert into "{self.schema}"."_sling_state" values '
            f"('{key_sql}', '{val_sql}', '{ctype}', current_timestamp)")


def open_state_store(spec: str, resolve_conn=None):
    """``SLING_STATE`` env value -> state store. ``CONN/schema`` = the
    DB-backed table (resolve_conn maps conn names to live handles; a
    duckdb:// / sqlite:// URL opens directly); a filesystem path = the
    JSON file store (runner.FileStateStore shape)."""
    spec = str(spec or "")
    if "/" in spec and not spec.startswith(("/", "file://", ".")):
        conn_name, _, schema = spec.partition("/")
        db = resolve_conn(conn_name) if resolve_conn else None
        if db is None and conn_name.lower().startswith(
                ("duckdb:", "sqlite:")):
            db = open_db(conn_name)
        if db is None:
            raise KeyError(f"SLING_STATE connection not found: "
                           f"{conn_name!r}")
        return DbStateStore(db, schema or "sling_state")
    from sling_cli_spark.state import StateStore

    return StateStore(spec.removeprefix("file://"))
