"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(seed, workload)``: the same seed gives
byte-identical files, so two commits measured on one seed see the same
bytes. Files are written with numpy + pyarrow only; the engine never
touches them before the timed operations read them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# bulk_load sizes: lineitem is split into many shards so the scan's split
# planning (one split per small file under spark.sql.files.maxPartitionBytes)
# decides how many cores the read can use.
LINEITEM_ROWS = 24_000
LINEITEM_SHARDS = 24
ORDERS_ROWS = 12_000
EVENTS_ROWS = 6_000
CUSTOMER_ROWS = 3_000

# lake_upsert: an orders-derived table at sf0.1 (150k rows), staged in
# many files; each incremental batch is ~1% of the rows.
LAKE_ROWS = 150_000
LAKE_FILES = 16
LAKE_BATCH_ROWS = 1_500
LAKE_RECENT_SHARE = 0.05     # "recent" keys = the newest 5% of the key range
LAKE_MIX = (0.70, 0.20, 0.10)  # recent updates, uniform updates, new keys
# cdc_stream runs the same merges on a smaller copy beside its streams
CDC_LAKE_ROWS = 20_000
CDC_LAKE_FILES = 4
CDC_LAKE_BATCH_ROWS = 200

# cdc_stream: bronze starts with an initial insert-only batch, then each
# change batch holds I/U/D ops with repeated keys inside the batch.
CDC_INITIAL_ROWS = 10_000
CDC_BATCH_ROWS = 400
CDC_MIX = (0.15, 0.70, 0.15)   # inserts, updates, deletes
CDC_DUP_SHARE = 0.10           # share of a batch's ops that re-touch a key

EPOCH = dt.datetime(2024, 1, 1)
_WORDS = np.array(
    "alpha bravo carbon delta ember fjord glacier harbor iris jade kelp "
    "lumen maple nectar onyx pylon quartz raven sierra tundra umber vortex "
    "willow xenon yarrow zephyr".split())
_MODES = np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR"])
_PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                   "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])
_KINDS = np.array(["view", "click", "cart", "purchase", "search"])
_DEVICES = np.array(["ios", "android", "web", "tv"])


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose...)."""
    return np.random.Generator(np.random.PCG64([int(seed), *stream]))


def _comments(rng: np.random.Generator, n: int, words: int = 4) -> list[str]:
    idx = rng.integers(0, len(_WORDS), size=(n, words))
    w = _WORDS[idx]
    return [" ".join(r) for r in w.tolist()]


def _cents(rng, n, lo, hi):
    return rng.integers(lo * 100, hi * 100, size=n)


def _money(cents: np.ndarray) -> pa.Array:
    """Exact two-decimal text, as a CSV export writes money."""
    return pa.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()])


def _dates(rng, n, days=2500) -> np.ndarray:
    return np.datetime64("1992-01-01") + rng.integers(0, days, size=n)


def lineitem_table(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    rng = rng_for(seed, 1)
    okey = np.sort(rng.integers(1, ORDERS_ROWS * 4, size=n))
    return pa.table({
        "l_orderkey": okey,
        "l_linenumber": rng.integers(1, 8, size=n),
        "l_partkey": rng.integers(1, 20_000, size=n),
        "l_quantity": rng.integers(1, 51, size=n),
        "l_extendedprice": _money(_cents(rng, n, 900, 100_000)),
        "l_discount": _money(rng.integers(0, 11, size=n)),
        "l_shipdate": pa.array(_dates(rng, n)).cast(pa.string()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, size=n)]),
        "l_shipmode": pa.array(_MODES[rng.integers(0, len(_MODES), n)]),
        "l_comment": pa.array(_comments(rng, n)),
    })


def orders_table(seed: int, n: int = ORDERS_ROWS,
                 stream: tuple = (2,)) -> pa.Table:
    rng = rng_for(seed, *stream)
    return pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, CUSTOMER_ROWS + 1, size=n),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, size=n)]),
        "o_totalprice": _money(_cents(rng, n, 800, 500_000)),
        "o_orderdate": pa.array(_dates(rng, n)).cast(pa.string()),
        "o_orderpriority": pa.array(_PRIOS[rng.integers(0, 5, n)]),
        "o_clerk": pa.array([f"Clerk#{c:09d}" for c in
                             rng.integers(1, 1000, size=n).tolist()]),
        "o_comment": pa.array(_comments(rng, n, 6)),
    })


def events_lines(seed: int, n: int = EVENTS_ROWS) -> list[str]:
    rng = rng_for(seed, 3)
    users = rng.integers(1, 5_000, size=n).tolist()
    secs = np.sort(rng.integers(0, 86_400 * 30, size=n)).tolist()
    kinds = _KINDS[rng.integers(0, len(_KINDS), n)].tolist()
    devs = _DEVICES[rng.integers(0, len(_DEVICES), n)].tolist()
    scores = rng.integers(0, 1000, size=n).tolist()
    refs = _comments(rng, n, 2)
    out = []
    for i in range(n):
        ts = (EPOCH + dt.timedelta(seconds=secs[i])).isoformat()
        out.append(json.dumps({
            "event_id": i + 1, "user_id": users[i], "ts": ts,
            "kind": kinds[i],
            "props": {"device": devs[i], "score": scores[i],
                      "ref": refs[i]}}, separators=(",", ":")))
    return out


def customer_table(seed: int, n: int = CUSTOMER_ROWS) -> pa.Table:
    rng = rng_for(seed, 4)
    bal = _cents(rng, n, -999, 9_999)
    return pa.table({
        "c_custkey": np.arange(1, n + 1, dtype=np.int64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(1, n + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
        "c_acctbal": pa.array(bal, pa.int64()),
        "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n)]),
        "c_comment": pa.array(_comments(rng, n, 5)),
    })


def _write_csv(tbl: pa.Table, path: str) -> None:
    pacsv.write_csv(tbl, path, pacsv.WriteOptions(
        include_header=True, quoting_style="needed"))


def _write_parquet(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="zstd")


def digest(paths: list[str]) -> str:
    """sha256 over the files' relative names and bytes, in sorted order."""
    h = hashlib.sha256()
    base = os.path.commonpath(paths) if len(paths) > 1 else \
        os.path.dirname(paths[0])
    for p in sorted(paths):
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def inputs_summary(paths: list[str], rows: int) -> dict:
    return {"rows": rows, "files": len(paths),
            "bytes": sum(os.path.getsize(p) for p in paths),
            "sha256": digest(paths)}


def make_bulk_inputs(seed: int, root: str, scale: float = 1.0) -> dict:
    """Write the four bulk_load sources under ``root``; returns
    ``{"streams": {name: path}, "rows": {name: n}, "summary": {...}}``.
    ``scale`` shrinks every source (the self-tests use small inputs)."""
    rows = {"lineitem": int(LINEITEM_ROWS * scale),
            "orders": int(ORDERS_ROWS * scale),
            "events": int(EVENTS_ROWS * scale),
            "customer": int(CUSTOMER_ROWS * scale)}
    os.makedirs(os.path.join(root, "lineitem"), exist_ok=True)
    li = lineitem_table(seed, rows["lineitem"])
    shard = -(-rows["lineitem"] // LINEITEM_SHARDS)
    li_paths = []
    for i in range(LINEITEM_SHARDS):
        p = os.path.join(root, "lineitem", f"part_{i:03d}.csv")
        _write_csv(li.slice(i * shard, shard), p)
        li_paths.append(p)
    orders = os.path.join(root, "orders.csv")
    _write_csv(orders_table(seed, rows["orders"]), orders)
    events = os.path.join(root, "events.jsonl")
    with open(events, "w") as f:
        f.write("\n".join(events_lines(seed, rows["events"])) + "\n")
    customer = os.path.join(root, "customer.parquet")
    _write_parquet(customer_table(seed, rows["customer"]), customer)
    paths = li_paths + [orders, events, customer]
    return {
        "streams": {"lineitem": os.path.join(root, "lineitem", "*.csv"),
                    "orders": orders, "events": events,
                    "customer": customer},
        "rows": rows,
        "summary": inputs_summary(paths, sum(rows.values())),
    }


# ------------------------------------------------------------ lake_upsert

def lake_base_table(seed: int, rows: int = LAKE_ROWS) -> pa.Table:
    """The seed table: orders columns + ``updated_at`` (all before EPOCH)."""
    t = orders_table(seed, rows, stream=(5,))
    rng = rng_for(seed, 6)
    ts = np.datetime64(EPOCH - dt.timedelta(days=30), "s") + rng.integers(
        0, 86_400 * 29, size=rows).astype("timedelta64[s]")
    return _typed_orders(t).append_column("updated_at", _utc(ts))


def _utc(ts: np.ndarray) -> pa.Array:
    return pa.array(ts.astype("datetime64[us]")).cast(
        pa.timestamp("us", tz="UTC"))


def _typed_orders(t: pa.Table) -> pa.Table:
    """Engine-side types for the lake tables (no text inference)."""
    return pa.table({
        "o_orderkey": t["o_orderkey"],
        "o_custkey": t["o_custkey"],
        "o_orderstatus": t["o_orderstatus"],
        "o_totalprice": t["o_totalprice"].cast(pa.decimal128(12, 2)),
        "o_orderdate": t["o_orderdate"].cast(pa.date32()),
        "o_orderpriority": t["o_orderpriority"],
        "o_clerk": t["o_clerk"],
        "o_comment": t["o_comment"],
    })


class LakeBatches:
    """Deterministic incremental batches over the lake seed table.

    Batch ``k`` depends only on ``(seed, k)`` and the keys inserted by
    batches ``< k`` (a count, tracked here), so batches can be produced
    lazily inside a closed loop of any length."""

    def __init__(self, seed: int, rows: int = LAKE_ROWS,
                 batch_rows: int = LAKE_BATCH_ROWS):
        self.seed = seed
        self.max_key = rows * 4  # orders keys are 4, 8, ..., 4n
        self.batch_rows = batch_rows
        self.made = 0
        self.last_new = 0

    def next(self) -> pa.Table:
        k = self.made
        rng = rng_for(self.seed, 7, k)
        n = self.batch_rows
        n_recent = int(n * LAKE_MIX[0])
        n_uniform = int(n * LAKE_MIX[1])
        n_new = n - n_recent - n_uniform
        hi = self.max_key // 4
        lo_recent = max(1, int(hi * (1 - LAKE_RECENT_SHARE)))
        upd = np.concatenate([
            rng.integers(lo_recent, hi + 1, size=n_recent),
            rng.integers(1, hi + 1, size=n_uniform)]) * 4
        upd = np.unique(upd)
        new = (np.arange(1, n_new + 1, dtype=np.int64) + hi) * 4
        self.max_key = int(new[-1])
        self.last_new = n_new
        keys = np.concatenate([upd, new])
        base = orders_table(self.seed, len(keys), stream=(8, k))
        t = _typed_orders(base).set_column(0, "o_orderkey",
                                           pa.array(keys, pa.int64()))
        # every batch is strictly newer than the last, so the incremental
        # watermark never drops a row and "latest per key" is unambiguous
        ts = np.datetime64(EPOCH, "us") + np.timedelta64(k * 60, "s") + \
            np.sort(rng.integers(0, 59_000_000, size=len(keys))) \
            .astype("timedelta64[us]")
        self.made += 1
        return t.append_column("updated_at", _utc(ts))


# ------------------------------------------------------------- cdc_stream

CDC_OP = "_sling_synced_op"
CDC_SEQ = "_sling_synced_seq"


def _cdc_rows(rng, keys: np.ndarray, ops: list[str], seqs: np.ndarray):
    n = len(keys)
    return pa.table({
        "id": pa.array(keys, pa.int64()),
        "name": pa.array(_comments(rng, n, 2)),
        "qty": pa.array(rng.integers(0, 10_000, size=n), pa.int64()),
        "amount": pa.array(_cents(rng, n, 0, 50_000), pa.int64()),
        CDC_OP: pa.array(ops),
        CDC_SEQ: pa.array(seqs, pa.int64()),
    })


def cdc_initial(seed: int) -> pa.Table:
    rng = rng_for(seed, 9)
    n = CDC_INITIAL_ROWS
    return _cdc_rows(rng, np.arange(1, n + 1), ["I"] * n,
                     np.zeros(n, dtype=np.int64))


class CdcBatches:
    """Deterministic change batches: batch ``k`` depends on ``(seed, k)``
    and the live key set before it, which is tracked here."""

    def __init__(self, seed: int):
        self.seed = seed
        self.live = np.arange(1, CDC_INITIAL_ROWS + 1, dtype=np.int64)
        self.next_key = CDC_INITIAL_ROWS + 1
        self.seq = 0
        self.made = 0

    def next(self) -> pa.Table:
        rng = rng_for(self.seed, 10, self.made)
        n = CDC_BATCH_ROWS
        n_dup = int(n * CDC_DUP_SHARE)
        n_base = n - n_dup
        n_ins = int(n_base * CDC_MIX[0])
        n_del = int(n_base * CDC_MIX[2])
        n_upd = n_base - n_ins - n_del
        ins = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        picks = rng.choice(self.live, size=n_upd + n_del, replace=False)
        upd, dele = picks[:n_upd], picks[n_upd:]
        keys = np.concatenate([ins, upd, dele])
        ops = ["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del
        # repeated keys inside the batch: later ops on keys already in it
        # (an update after an insert, an update after a delete = reinsert)
        dup_idx = rng.integers(0, len(keys), size=n_dup)
        keys = np.concatenate([keys, keys[dup_idx]])
        ops = ops + ["U"] * n_dup
        # seq is a global change sequence in generation order, so a
        # re-touch always follows the op it re-touches; rows land shuffled
        seqs = self.seq + 1 + np.arange(len(keys), dtype=np.int64)
        order = rng.permutation(len(keys))
        self.seq += len(keys)
        tbl = _cdc_rows(rng, keys[order], [ops[i] for i in order],
                        seqs[order])
        live = set(self.live.tolist())
        last = {}
        for k, op, s in zip(keys.tolist(), ops, seqs.tolist()):
            if k not in last or s > last[k][1]:
                last[k] = (op, s)
        for k, (op, _) in last.items():
            if op == "D":
                live.discard(k)
            else:
                live.add(k)
        self.live = np.array(sorted(live), dtype=np.int64)
        self.made += 1
        return tbl


def table_digest(tbl: pa.Table) -> str:
    """sha256 of a table's Arrow IPC stream (inputs that never touch disk)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
