"""The three benchmark workloads, each a closed loop with one client.

A workload's ``setup`` writes its seed tables and runs one warm-up cycle;
``cycle`` runs the timed operations once; ``verify`` compares every
output with the DuckDB oracle. Every workload alternates two targets, so
each reports the same end-to-end metrics: the Delta target and its "peer"
(the DuckDB target in bulk_load, the Iceberg table in lake_upsert and
cdc_stream). lake_upsert follows each merge with a downstream snapshot
read (row count + checksum aggregate, the count checked after every
read); cdc_stream runs that merge and read on a smaller table beside its
drains, timed as op kinds of their own.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle

# Engine modules are looked up through these module objects at call time,
# so the traced run's wrappers (installed on the same objects) see every
# call the benchmark makes.
from sling_cli_spark import runner
from sling_cli_spark.config import Config
from sling_cli_spark.plans import replication
from sling_cli_spark.sources import delta_py, iceberg_py
from sling_cli_spark.streaming import cdc

OP_KINDS = ("delta_op", "peer_op", "delta_merge", "peer_merge", "delta_read",
            "peer_read")


class Workload:
    """Shared bookkeeping: op timings, rows landed, failures."""

    name = ""
    # A run completes at least this many cycles even when they outlast
    # --seconds, so every per-kind median rests on that many samples
    # (cdc_stream's lake merge: one per compaction period) ...
    min_cycles = 2
    # ... and a whole multiple of this many cycles
    cycle_multiple = 1
    # traced run: op kind -> layers every op of that kind must reach
    # ("*": layers the window must call at least once)
    traced_layers: dict[str, tuple[str, ...]] = {}

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.times: dict[str, list[float]] = {k: [] for k in OP_KINDS}
        self.rows = 0
        self.ops = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.inputs: dict = {}
        self.timing = False

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def op(self, kind: str, fn, check=None, rows: int = 0) -> None:
        """Run one timed operation; ``check(result)`` returns an error
        string (or None). An exception or a failed check is a failed op.
        ``rows``: the change rows the op applies (traced runs divide the
        rows a merge writes by them)."""
        if self.timing:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"perfbench.{kind}") as s:
                if s is not None:
                    s.attrs["rows"] = rows
                out = fn()
        except Exception as e:  # one failed op must not end the run
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return
        dt = time.perf_counter() - t0
        err = check(out) if check else None
        if err:
            self.fail(f"{kind}: {err}")
        elif self.timing:
            self.times[kind].append(dt)
            self.ops += 1

    def fail(self, msg: str) -> None:
        """A failed op, timed or warm-up: the run reports it and goes on."""
        self.failed += 1
        self.errors.append(msg)

    def mismatch(self, what: str) -> None:
        """A wrong final output counts as one failed op."""
        self.failed += 1
        self.errors.append(f"oracle mismatch: {what}")

    def snapshot_read(self, df):
        """Downstream consumer read: row count + checksum aggregate. The
        engine's readers build lazy plans, so the scan (merge-on-read
        included) runs here, in a span of its own."""
        with self.span("downstream.snapshot_read"):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*df.columns) % 1_000_003).alias("h"),
            ).collect()[0]
        return row["n"]

    def iceberg_checksum(self, con, path: str, cols) -> tuple:
        """Checksum of an Iceberg table read through the engine (the oracle
        has no Iceberg reader of its own) and handed to DuckDB as Arrow."""
        con.register("iceberg_rows", iceberg_py.read_iceberg(
            self.spark, path).toArrow())
        return oracle.checksum(con, "iceberg_rows", cols)

    def extra(self) -> dict:
        """Workload-named metrics for the report: {name: (value, unit)}."""
        return {}

    def lake_tables(self) -> tuple[list[str], list[str]]:
        """(Delta tables, Iceberg tables) whose end state is reported."""
        return [], []


# --------------------------------------------------------------- bulk_load

class BulkLoad(Workload):
    """Full-refresh replication of four seeded sources into a fresh Delta
    directory, then into a fresh DuckDB file. Each load is checked by the
    rows it reports landed; every cycle's outputs by the oracle."""

    name = "bulk_load"
    # after one warm-up cycle the first timed Delta load still ran ~1.2x
    # and the second ~1.1x slower than the third (an idle pause does not
    # help), which a stolen-CPU slice could stretch further; set-up
    # therefore adds a second Delta load, and three timed cycles keep the
    # median off the slowest
    min_cycles = 3
    _read = ("plans.replication.compile_replication",
             "plans.replication.run_replication", "runner.build_read_plan",
             "sources.files.read_source",
             "operators.inference.infer_and_cast")
    traced_layers = {
        "delta_op": _read + ("runner.run", "sinks.writers.write_files",
                             "sources.delta_py.write_delta"),
        "peer_op": _read + ("sinks.db_load.run_db",
                            "sinks.db_load.DuckDBTarget.ingest"),
    }

    def setup_inputs(self) -> None:
        self.src = gen.make_bulk_inputs(self.seed, os.path.join(
            self.work, "in"))
        self.inputs = self.src["summary"]
        # (Delta dir, DuckDB file or None) per cycle
        self.outputs: list[tuple[str, str | None]] = []
        self.loaded = 0  # rows landed per target in the timed window
        self.lake_s = self.db_s = 0.0

    def _rc(self, target: str, out: str):
        lake = target == "local"
        streams = {path: {"object": (os.path.join(out, name) if lake
                                     else f"main.{name}")}
                   for name, path in self.src["streams"].items()}
        return replication.ReplicationConfig(
            source="local", target=target,
            defaults={"mode": "full-refresh",
                      "target_options": {"format": "delta"} if lake else {}},
            streams=streams)

    def _landed(self, results):
        got = sum(r.rows for r in results.values())
        want = sum(self.src["rows"].values())
        return None if got == want else f"landed {got} rows, want {want}"

    def cycle(self, peer: bool = True) -> None:
        out = os.path.join(self.work, f"delta_{len(self.outputs)}")
        db = os.path.join(self.work, f"db_{len(self.outputs)}.duckdb") \
            if peer else None
        # every cycle's outputs stay on disk until verify checks them
        self.outputs.append((out, db))
        t0 = time.perf_counter()
        self.op("delta_op", lambda: replication.run_replication(
            self.spark, self._rc("local", out)), self._landed)
        t1 = time.perf_counter()
        if peer:
            self.op("peer_op", lambda: replication.run_replication(
                self.spark, self._rc(f"duckdb://{db}", "")), self._landed)
        t2 = time.perf_counter()
        if self.timing:
            self.loaded += sum(self.src["rows"].values())
            self.rows = 2 * self.loaded
            self.lake_s += t1 - t0
            self.db_s += t2 - t1

    def setup(self) -> None:
        # warm-up: a first full-size cycle pays the cold paths
        self.cycle()
        self.cycle(peer=False)

    def verify(self, con) -> dict:
        """Every cycle's Delta and DuckDB outputs, warm-up included."""
        want, live = {}, 0
        for name, path in self.src["streams"].items():
            want[name] = oracle.checksum(con, oracle.source_relation(path),
                                         oracle.BULK_COLUMNS[name])
            live += oracle.live_parquet_bytes(
                con, oracle.source_relation(path, as_text=False),
                os.path.join(self.work, "live.parquet"))
        for k, (out, db) in enumerate(self.outputs):
            for name, cols in oracle.BULK_COLUMNS.items():
                if oracle.checksum(con, oracle.delta_relation(
                        os.path.join(out, name)), cols) != want[name]:
                    self.mismatch(f"{name} delta target, cycle {k}")
            if db is None:
                continue
            con.execute(f"ATTACH '{db}' AS tgt (READ_ONLY)")
            for name, cols in oracle.BULK_COLUMNS.items():
                if oracle.checksum(con, f"tgt.main.{name}", cols,
                                   struct_text=True) != want[name]:
                    self.mismatch(f"{name} duckdb target, cycle {k}")
            con.execute("DETACH tgt")
        # the Delta target only: a DuckDB file grows in whole storage
        # blocks, which would swamp the ratio with allocation steps
        return {"bytes_per_live_byte":
                oracle.dir_bytes(self.outputs[-1][0]) / live}

    def lake_tables(self):
        out = self.outputs[-1][0]
        return [os.path.join(out, n) for n in self.src["streams"]], []

    def extra(self) -> dict:
        return {
            "bulk_lake_rows_per_s": (self.loaded / self.lake_s, "rows/s"),
            "bulk_db_rows_per_s": (self.loaded / self.db_s, "rows/s"),
        }


# ------------------------------------------------------------- lake_upsert

def _module(fmt: str) -> str:
    return "sources.delta_py" if fmt == "delta" else "sources.iceberg_py"


def _read_fn(fmt: str):
    """The engine's reader of one lake format, looked up at call time."""
    return delta_py.read_delta if fmt == "delta" else iceberg_py.read_iceberg


def _writer(fmt: str):
    """The engine's writer of one lake format, looked up at call time."""
    return delta_py.write_delta if fmt == "delta" else \
        iceberg_py.write_iceberg


def _lake_layers(kinds) -> dict:
    """Traced layers of the lake merges and reads named by ``kinds``."""
    out = {}
    for fmt, merge, read in kinds:
        mod = _module(fmt)
        out[merge] = ("runner.run", "runner.build_read_plan",
                      "sources.files.read_source", f"{mod}.read_{fmt}",
                      f"{mod}.merge_{fmt}")
        if read:
            out[read] = (f"{mod}.read_{fmt}",)
    return out


class LakeUpsert(Workload):
    """Incremental merges of ~1% batches into one table kept as Delta and
    as Iceberg v2, each merge followed by a downstream snapshot read."""

    name = "lake_upsert"
    lake_rows = gen.LAKE_ROWS
    lake_files = gen.LAKE_FILES
    lake_batch_rows = gen.LAKE_BATCH_ROWS
    # (format, op kind of the merge, op kind of the read after it or None)
    lake_kinds = (("delta", "delta_op", "delta_read"),
                  ("iceberg", "peer_op", "peer_read"))
    traced_layers = _lake_layers(lake_kinds)

    def setup_inputs(self) -> None:
        self.lake_inputs()
        self.inputs = self.lake_summary

    def setup(self) -> None:
        self.lake_write()
        self.cycle()  # warm-up batch, applied like any other

    def cycle(self) -> None:
        self.lake_cycle()

    def verify(self, con) -> dict:
        return {"bytes_per_live_byte": self.lake_verify(con)}

    def lake_tables(self):
        return [self.lake["delta"]], [self.lake["iceberg"]]

    # The lake part on its own, so cdc_stream can run it beside its streams.

    def lake_inputs(self) -> None:
        base = gen.lake_base_table(self.seed, self.lake_rows)
        self.base_path = os.path.join(self.work, "lake_base.parquet")
        pq.write_table(base, self.base_path, compression="zstd")
        self.lake_summary = gen.inputs_summary([self.base_path],
                                               base.num_rows)
        self.lake_in = [base]
        self.lake_batches = gen.LakeBatches(self.seed, self.lake_rows,
                                            self.lake_batch_rows)
        self.live = base.num_rows
        self.lake = {fmt: os.path.join(self.work, f"orders_{fmt}")
                     for fmt, _, _ in self.lake_kinds}

    def lake_write(self) -> None:
        df = self.spark.read.parquet(self.base_path) \
            .repartitionByRange(self.lake_files, "o_orderkey")
        for fmt, path in self.lake.items():
            _writer(fmt)(df, path)

    def _cfg(self, batch_path: str, target: str, fmt: str) -> Config:
        return Config.from_dict({
            "source": {"stream": batch_path, "primary_key": ["o_orderkey"],
                       "update_key": "updated_at"},
            "target": {"object": target, "options": {"format": fmt}},
            "mode": "incremental"})

    def lake_cycle(self) -> None:
        with self.span("perfbench.generate"):
            batch = self.lake_batches.next()
            path = os.path.join(
                self.work, f"batch_{self.lake_batches.made:05d}.parquet")
            pq.write_table(batch, path, compression="zstd")
            self.lake_in.append(batch)
        self.live += self.lake_batches.last_new
        want_rows = batch.num_rows

        def merged(res):
            return None if res.rows == want_rows else \
                f"merged {res.rows} rows, want {want_rows}"

        for fmt, merge_kind, read_kind in self.lake_kinds:
            table = self.lake[fmt]
            self.op(merge_kind, lambda: runner.run(
                self.spark, self._cfg(path, table, fmt),
                target_df=_read_fn(fmt)(self.spark, table)), merged,
                rows=want_rows)
            if read_kind:
                self.counted_read(read_kind, fmt, table, self.live)
            if self.timing:
                self.rows += want_rows

    def counted_read(self, kind: str, fmt: str, table: str,
                     live: int) -> None:
        """A timed snapshot read whose row count must be ``live``."""
        def counted(n):
            return None if n == live else f"read {n} rows, want {live}"

        self.op(kind, lambda: self.snapshot_read(
            _read_fn(fmt)(self.spark, table)), counted)

    def lake_verify(self, con) -> float:
        """Check the lake tables; return their bytes per live byte."""
        want_rel = oracle.lake_expected(con, self.lake_in)
        cols = oracle.LAKE_COLUMNS
        want = oracle.checksum(con, want_rel, cols)
        for fmt, table in self.lake.items():
            got = oracle.checksum(con, oracle.delta_relation(table), cols) \
                if fmt == "delta" else self.iceberg_checksum(con, table, cols)
            if got != want:
                self.mismatch(f"lake {fmt} table")
        live = oracle.live_parquet_bytes(
            con, want_rel, os.path.join(self.work, "live.parquet"))
        on_disk = sum(oracle.dir_bytes(p) for p in self.lake.values())
        return on_disk / (len(self.lake) * live)


# -------------------------------------------------------------- cdc_stream

class CdcStream(LakeUpsert):
    """Change batches appended to an append-only bronze table, each drained
    by one checkpointed availableNow stream into a silver table: a Delta
    pipeline (copy-on-write change-capture merge) and an Iceberg pipeline
    (equality-delete upsert), each compacting inline every
    ``compact_every`` micro-batches. Each drain is checked by the rows its
    micro-batches read, and is
    followed by a downstream snapshot read of silver whose row count is
    checked (the Iceberg read pays the delete debt between compactions);
    the silver tables are checked by the oracle at the end.

    Once per compaction period the cycle also runs lake_upsert's
    incremental ``runner.run`` merge into an Iceberg table (a smaller
    one), so the merge-into-lake layers are measured in this workload
    too."""

    name = "cdc_stream"
    lake_rows = gen.CDC_LAKE_ROWS
    lake_files = gen.CDC_LAKE_FILES
    lake_batch_rows = gen.CDC_LAKE_BATCH_ROWS
    lake_kinds = (("iceberg", "peer_merge", None),)
    # Small enough that inline compaction fires within a default run; the
    # warm-up drains micro-batch 0 and timed cycles come in whole
    # compaction periods, so every run compacts on the same share of its
    # drains.
    compact_every = 2
    cycle_multiple = compact_every
    traced_layers = {
        "delta_op": ("streaming.cdc.run_cdc_stream",
                     "sources.delta_py.write_delta",
                     "sources.delta_py.merge_delta"),
        "peer_op": ("streaming.cdc.run_cdc_stream",
                    "sources.iceberg_py.write_iceberg",
                    "sources.iceberg_py.upsert_iceberg"),
        "delta_read": ("sources.delta_py.read_delta",),
        "peer_read": ("sources.iceberg_py.read_iceberg",),
        "*": ("sources.delta_py.optimize_delta",
              "sources.iceberg_py.compact_iceberg"),
        **_lake_layers(lake_kinds),
    }

    def setup_inputs(self) -> None:
        init = gen.cdc_initial(self.seed)
        self.lake_inputs()
        self.inputs = {
            "cdc": {"rows": init.num_rows, "files": 0, "bytes": init.nbytes,
                    "sha256": gen.table_digest(init)},
            "lake": self.lake_summary}
        self.tables = [init]
        self.batches = gen.CdcBatches(self.seed)
        self.paths = {
            fmt: {k: os.path.join(self.work, f"{k}_{fmt}")
                  for k in ("bronze", "silver", "ckpt")}
            for fmt in ("delta", "iceberg")}

    def setup(self) -> None:
        from sling_cli_spark.streaming.delta_source import (
            register_delta_stream)
        from sling_cli_spark.streaming.iceberg_source import (
            register_iceberg_stream)

        register_delta_stream(self.spark)
        register_iceberg_stream(self.spark)
        silver = self.spark.createDataFrame(
            self.tables[0].select(["id", "name", "qty", "amount"]))
        for fmt in ("delta", "iceberg"):
            _writer(fmt)(silver, self.paths[fmt]["silver"])
        self.lake_write()
        # warm-up: micro-batch 0 creates bronze and pays the streams' cold
        # paths; the reads and the lake merge pay theirs in the first
        # timed cycle that runs them, the same one in every run
        self.drains(read=False)

    def _drain(self, fmt: str, batch):
        p = self.paths[fmt]
        _writer(fmt)(self.spark.createDataFrame(batch), p["bronze"],
                     mode="append")
        src = self.spark.readStream.format(f"{fmt}_stream") \
            .option("path", p["bronze"]).load()
        return cdc.run_cdc_stream(self.spark, src, p["silver"], "id",
                                  p["ckpt"], compact_every=self.compact_every)

    def drains(self, read: bool = True) -> None:
        """One change batch landed in both bronze tables, drained into
        silver and (``read``) read back from silver."""
        with self.span("perfbench.generate"):
            batch = self.batches.next()
            self.tables.append(batch)
        live = len(self.batches.live)

        def drained(query):
            n = sum(p.numInputRows for p in query.recentProgress)
            return None if n == batch.num_rows else \
                f"drained {n} rows, want {batch.num_rows}"

        for fmt, kind in (("delta", "delta_op"), ("iceberg", "peer_op")):
            self.op(kind, lambda: self._drain(fmt, batch), drained,
                    rows=batch.num_rows)
            if read:
                self.counted_read(kind.replace("_op", "_read"), fmt,
                                  self.paths[fmt]["silver"], live)
            if self.timing:
                self.rows += batch.num_rows

    def cycle(self) -> None:
        self.drains()
        # one lake merge per compaction period, in the cycle whose drains
        # compact: enough to measure its layers, and the run stays short
        if (self.batches.made - 1) % self.compact_every == 0:
            self.lake_cycle()

    def verify(self, con) -> dict:
        want_rel = oracle.cdc_expected(con, self.tables)
        cols = oracle.CDC_COLUMNS
        want = oracle.checksum(con, want_rel, cols)
        silver = self.paths["delta"]["silver"]
        if oracle.checksum(con, oracle.delta_relation(silver),
                           cols) != want:
            self.mismatch("cdc delta silver")
        if self.iceberg_checksum(con, self.paths["iceberg"]["silver"],
                                 cols) != want:
            self.mismatch("cdc iceberg silver")
        live = oracle.live_parquet_bytes(
            con, f"(SELECT id, name, qty, amount FROM {want_rel})",
            os.path.join(self.work, "live.parquet"))
        on_disk = sum(oracle.dir_bytes(self.paths[f]["silver"])
                      for f in ("delta", "iceberg"))
        self.lake_ratio = self.lake_verify(con)
        return {"bytes_per_live_byte": on_disk / (2 * live)}

    def extra(self) -> dict:
        return {"lake_bytes_per_live_byte": (self.lake_ratio, "ratio")}

    def lake_tables(self):
        return ([self.paths["delta"]["silver"]],
                [self.paths["iceberg"]["silver"], self.lake["iceberg"]])


WORKLOADS = {w.name: w for w in (BulkLoad, LakeUpsert, CdcStream)}
