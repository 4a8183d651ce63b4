"""Per-layer measurement for the traced run.

Installs span wrappers on the engine's public functions (where each
caller looks the name up), listens to streaming progress, reads the lake
tables' end state from outside, and folds it all into the ``per_layer``
metrics named in BENCHMARK.json. Nothing here edits an engine file.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

from oracle import delta_live_adds, dir_bytes
from spans import attributed, layer_table
from workloads import OP_KINDS

DELTA = "sources.delta_py"
ICEBERG = "sources.iceberg_py"
MERGES = (f"{DELTA}.merge_delta", f"{ICEBERG}.merge_iceberg",
          f"{ICEBERG}.upsert_iceberg")
LISTENER_MS = ("latestOffset", "queryPlanning", "addBatch", "walCommit",
               "commitOffsets", "triggerExecution")


def install(tracer) -> None:
    """Wrap every layer the per-layer metrics name."""
    from sling_cli_spark import runner, session
    from sling_cli_spark.operators import inference
    from sling_cli_spark.plans import replication
    from sling_cli_spark.sinks import db_load
    from sling_cli_spark.sources import delta_py, files, iceberg_py
    from sling_cli_spark.streaming import cdc

    w = tracer.wrap
    w(session, "get_spark", "session.get_spark")
    w(replication, "compile_replication",
      "plans.replication.compile_replication")
    w(replication, "run_replication", "plans.replication.run_replication")
    w(runner, "run", "runner.run")
    # db_load binds build_read_plan at import, like runner's bindings below
    w(runner, "build_read_plan", "runner.build_read_plan")
    w(db_load, "build_read_plan", "runner.build_read_plan")
    # runner binds read_source and write_files at import, so its bindings
    # are the ones to wrap; files.read_source serves the lazy importers
    w(runner, "read_source", "sources.files.read_source")
    w(files, "read_source", "sources.files.read_source")
    w(runner, "write_files", "sinks.writers.write_files", post=_files_out)
    w(inference, "infer_and_cast", "operators.inference.infer_and_cast")
    w(db_load, "run_db", "sinks.db_load.run_db")
    w(db_load.DuckDBTarget, "ingest", "sinks.db_load.DuckDBTarget.ingest")
    for fn in ("write_delta", "read_delta", "optimize_delta"):
        w(delta_py, fn, f"{DELTA}.{fn}")
    w(delta_py, "merge_delta", f"{DELTA}.merge_delta", post=_delta_added)
    for fn in ("write_iceberg", "read_iceberg", "compact_iceberg"):
        w(iceberg_py, fn, f"{ICEBERG}.{fn}")
    for fn in ("merge_iceberg", "upsert_iceberg"):
        w(iceberg_py, fn, f"{ICEBERG}.{fn}", post=_iceberg_added)
    w(cdc, "run_cdc_stream", "streaming.cdc.run_cdc_stream",
      post=_query_id)


# ------------------------------------------------------------- post hooks

def _data_files(path: str) -> list[str]:
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))
                   and d != "metadata"]
        out.extend(os.path.join(root, n) for n in names
                   if not n.startswith(("_", ".")) and not n.endswith(".crc"))
    return out


def _files_out(span, args, kwargs, result) -> None:
    target = args[1] if len(args) > 1 else kwargs["target"]
    paths = _data_files(target.object or "")
    span.attrs["files_out"] = len(paths)
    span.attrs["bytes_out"] = sum(os.path.getsize(p) for p in paths)


def _delta_added(span, args, kwargs, result) -> None:
    path = args[1] if len(args) > 1 else kwargs["path"]
    span.attrs.update(_merge_counts(result))
    v = (result or {}).get("version")
    if v is None:
        return
    rows = 0
    with open(os.path.join(path, "_delta_log", f"{int(v):020d}.json")) as f:
        for line in f:
            add = json.loads(line).get("add") if line.strip() else None
            if add and add.get("stats"):
                rows += json.loads(add["stats"]).get("numRecords", 0)
    span.attrs["rows_written"] = rows


def iceberg_metadata(path: str) -> dict:
    meta = os.path.join(path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as f:
        n = f.read().strip()
    with open(os.path.join(meta, f"v{n}.metadata.json")) as f:
        return json.load(f)


def _iceberg_added(span, args, kwargs, result) -> None:
    path = args[1] if len(args) > 1 else kwargs["path"]
    span.attrs.update(_merge_counts(result))
    sid = (result or {}).get("snapshot_id")
    for snap in iceberg_metadata(path).get("snapshots", []):
        if snap["snapshot-id"] == sid:
            span.attrs["rows_written"] = int(
                snap.get("summary", {}).get("added-records", 0))


def _merge_counts(result) -> dict:
    result = result or {}
    return {"touched_files": int(result.get("touched", 0)),
            "new_files": int(result.get("new_files", 0))}


def _query_id(span, args, kwargs, query) -> None:
    span.attrs["run_id"] = str(query.runId)


# --------------------------------------------------------------- listener

class DrainListener(StreamingQueryListener):
    """Keeps each streaming query's start time and per-batch durations."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        self.started[str(event.runId)] = _ts(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.setdefault(str(p.runId), []).append(
            {"ts": _ts(p.timestamp), "durationMs": dict(p.durationMs)})

    def wait_for(self, tracer, timeout: float = 5.0) -> None:
        """Wait (bounded) until every traced drain's progress has arrived:
        the listener bus delivers events after the query returns."""
        want = {s.attrs["run_id"] for s in tracer.spans
                if "run_id" in s.attrs}
        deadline = time.monotonic() + timeout
        while not want <= self.progress.keys() and \
                time.monotonic() < deadline:
            time.sleep(0.05)

    def onQueryTerminated(self, event):
        pass


def _ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------- lake state

def delta_state(tables: list[str]) -> dict:
    out = {"log_versions": 0, "checkpoints": 0, "active_files": 0,
           "dv_files": 0, "bytes_on_disk": 0}
    for t in tables:
        log = os.path.join(t, "_delta_log")
        names = os.listdir(log) if os.path.isdir(log) else []
        out["log_versions"] += sum(n.endswith(".json") and n[:20].isdigit()
                                   for n in names)
        out["checkpoints"] += sum(".checkpoint." in n and
                                  n.endswith(".parquet") for n in names)
        live = delta_live_adds(t)
        out["active_files"] += len(live)
        out["dv_files"] += sum(bool(a.get("deletionVector"))
                               for a in live.values())
        out["bytes_on_disk"] += dir_bytes(t)
    return out


def iceberg_state(tables: list[str]) -> dict:
    out = {"snapshots": 0, "manifests": 0, "delete_files": 0,
           "bytes_on_disk": 0}
    for t in tables:
        meta = iceberg_metadata(t)
        out["snapshots"] += len(meta.get("snapshots", []))
        out["manifests"] += len([
            p for p in glob.glob(os.path.join(t, "metadata", "*.avro"))
            if not os.path.basename(p).startswith("snap-")])
        # the delete debt at its peak: an inline compaction may just have
        # folded the current snapshot's to 0
        out["delete_files"] += max((int(
            snap.get("summary", {}).get("total-delete-files", 0))
            for snap in meta.get("snapshots", [])), default=0)
        out["bytes_on_disk"] += dir_bytes(t)
    return out


# ---------------------------------------------------------------- metrics

def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer, listener, workload, t0: float, t1: float,
              overhead_s: float) -> dict:
    """Every per_layer metric, each as {"value": v, "unit": u}.

    Layer times cover the timed window; ``session.get_spark.s`` is the
    one set-up layer. A layer the workload does not call reads 0."""
    spans = [s for s in tracer.spans if s.start >= t0 and s.end <= t1]
    table = layer_table(spans)
    setup_table = layer_table(tracer.spans)
    zero = {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0,
            "stages": 0, "tasks": 0, "p50_s": 0.0}
    m: dict[str, tuple] = {}

    def row(name):
        return table.get(name, zero)

    def attr_sum(name, key):
        return sum(s.attrs.get(key, 0) for s in spans if s.name == name)

    m["session.get_spark.s"] = (
        setup_table.get("session.get_spark", zero)["total_s"], "s")
    m["plans.replication.compile_replication.s"] = (
        row("plans.replication.compile_replication")["total_s"], "s")
    m["plans.replication.run_replication.self_s"] = (
        row("plans.replication.run_replication")["self_s"], "s")
    r = row("runner.run")
    m["runner.run.calls"] = (r["calls"], "count")
    m["runner.run.p50_s"] = (r["p50_s"], "s")
    m["runner.run.self_s"] = (r["self_s"], "s")
    m["runner.run.spark_jobs"] = (r["jobs"], "count")
    for name in ("runner.build_read_plan", "sources.files.read_source",
                 "sinks.db_load.run_db"):
        m[f"{name}.s"] = (row(name)["total_s"], "s")
        m[f"{name}.spark_jobs"] = (row(name)["jobs"], "count")
    for name in ("operators.inference.infer_and_cast",
                 "sinks.db_load.DuckDBTarget.ingest"):
        m[f"{name}.s"] = (row(name)["total_s"], "s")
    wf = "sinks.writers.write_files"
    m[f"{wf}.s"] = (row(wf)["total_s"], "s")
    m[f"{wf}.spark_jobs"] = (row(wf)["jobs"], "count")
    m[f"{wf}.bytes_out"] = (attr_sum(wf, "bytes_out"), "bytes")
    m[f"{wf}.files_out"] = (attr_sum(wf, "files_out"), "count")
    for fn in ("write_delta", "read_delta", "optimize_delta"):
        m[f"{DELTA}.{fn}.s"] = (row(f"{DELTA}.{fn}")["total_s"], "s")
    for fn in ("write_iceberg", "read_iceberg", "compact_iceberg"):
        m[f"{ICEBERG}.{fn}.s"] = (row(f"{ICEBERG}.{fn}")["total_s"], "s")
    for name in MERGES:
        r = row(name)
        m[f"{name}.p50_s"] = (r["p50_s"], "s")
        m[f"{name}.self_s"] = (r["self_s"], "s")
        m[f"{name}.spark_jobs"] = (r["jobs"], "count")
        m[f"{name}.touched_files"] = (attr_sum(name, "touched_files"),
                                      "count")
        m[f"{name}.new_files"] = (attr_sum(name, "new_files"), "count")
        written = attr_sum(name, "rows_written")
        changed = _rows_changed(spans, name)
        m[f"{name}.rows_written_per_row_changed"] = (
            written / changed if changed else 0.0, "ratio")
    d_tables, i_tables = workload.lake_tables()
    for k, v in delta_state(d_tables).items():
        m[f"{DELTA}.{k}"] = (v, "bytes" if k == "bytes_on_disk" else "count")
    for k, v in iceberg_state(i_tables).items():
        m[f"{ICEBERG}.{k}"] = (v, "bytes" if k == "bytes_on_disk"
                               else "count")
    m.update(_streaming(spans, row, listener))
    ops = [row(f"perfbench.{k}") for k in OP_KINDS]
    n_ops = max(sum(r["calls"] for r in ops), 1)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = (sum(r[k] for r in ops) / n_ops, "count")
    wall = t1 - t0
    # engine-layer and downstream-read spans only: the benchmark's own
    # op spans would cover the whole window by construction
    m["trace.attributed_ratio"] = (attributed(spans, t0, t1) / wall, "ratio")
    # the tracer's own bookkeeping time; the traced-vs-untraced difference
    # is printed beside the table when an untraced run of the seed exists
    m["trace.overhead_ratio"] = (overhead_s / wall, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _rows_changed(spans, name: str) -> int:
    """Change rows of the ops under which ``name`` ran, each op once."""
    by_id = {s.id: s for s in spans}
    ops = {}
    for s in spans:
        if s.name != name:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.parent is not None:
            p = by_id.get(p.parent)
        if p is not None:
            ops[p.id] = p.attrs.get("rows", 0)
    return sum(ops.values())


def _streaming(spans, row, listener) -> dict:
    m = {"streaming.cdc.run_cdc_stream.p50_s":
         (row("streaming.cdc.run_cdc_stream")["p50_s"], "s")}
    drains = [s for s in spans if s.name == "streaming.cdc.run_cdc_stream"]
    first, lifecycle, batches = [], [], []
    per_ms: dict[str, list[float]] = {k: [] for k in LISTENER_MS}
    for s in drains:
        rid = s.attrs.get("run_id")
        prog = listener.progress.get(rid, []) if listener else []
        batches.append(len(prog))
        trig = 0.0
        for p in prog:
            for k in LISTENER_MS:
                if k in p["durationMs"]:
                    per_ms[k].append(float(p["durationMs"][k]))
            trig += p["durationMs"].get("triggerExecution", 0) / 1000
        lifecycle.append(s.dur - trig)
        if prog and rid in listener.started:
            first.append(prog[0]["ts"] - listener.started[rid])
    m["streaming.listener.start_to_first_trigger_s"] = (_med(first), "s")
    for k in LISTENER_MS:
        m[f"streaming.listener.{k}_ms"] = (_med(per_ms[k]), "ms")
    m["streaming.listener.batches_per_drain"] = (
        statistics.fmean(batches) if batches else 0.0, "count")
    m["streaming.listener.lifecycle_s"] = (_med(lifecycle), "s")
    return m
