"""Independent DuckDB oracle for the benchmark's outputs.

Expected results come from the generated inputs alone, computed in DuckDB.
Actual results are read without the engine wherever the format allows: the
Delta tables through a small log replay of their own (JSON commits only)
and DuckDB targets directly; Iceberg tables are read through the engine
and handed to DuckDB as Arrow. Both sides reduce to the same
order-independent checksum, so a single wrong, missing or extra row shows.
"""

from __future__ import annotations

import glob
import json
import os
from urllib.parse import unquote

import duckdb

# column kinds -> checksum term; every term is order independent
_TERMS = {
    "int": "sum(CAST({c} AS HUGEINT))",
    "money": "sum(CAST({c} AS DECIMAL(18,2)))",
    "date": "sum(hash(CAST({c} AS DATE)))",
    "str": "sum(hash(CAST({c} AS VARCHAR)))",
    "ts": "sum(hash(CAST({c} AS TIMESTAMP)))",
}

BULK_COLUMNS = {
    "lineitem": [("l_orderkey", "int"), ("l_linenumber", "int"),
                 ("l_partkey", "int"), ("l_quantity", "int"),
                 ("l_extendedprice", "money"), ("l_discount", "money"),
                 ("l_shipdate", "date"), ("l_returnflag", "str"),
                 ("l_shipmode", "str"), ("l_comment", "str")],
    "orders": [("o_orderkey", "int"), ("o_custkey", "int"),
               ("o_orderstatus", "str"), ("o_totalprice", "money"),
               ("o_orderdate", "date"), ("o_orderpriority", "str"),
               ("o_clerk", "str"), ("o_comment", "str")],
    "events": [("event_id", "int"), ("user_id", "int"), ("ts", "str"),
               ("kind", "str"), ("props.device", "str"),
               ("props.score", "int"), ("props.ref", "str")],
    "customer": [("c_custkey", "int"), ("c_name", "str"),
                 ("c_nationkey", "int"), ("c_acctbal", "int"),
                 ("c_mktsegment", "str"), ("c_comment", "str")],
}
LAKE_COLUMNS = BULK_COLUMNS["orders"] + [("updated_at", "ts")]
CDC_COLUMNS = [("id", "int"), ("name", "str"), ("qty", "int"),
               ("amount", "int")]

_PROPS_STRUCT = "STRUCT(device VARCHAR, score BIGINT, ref VARCHAR)"
_EVENTS_JSON_COLUMNS = ("{'event_id': 'BIGINT', 'user_id': 'BIGINT', "
                        "'ts': 'VARCHAR', 'kind': 'VARCHAR', "
                        f"'props': '{_PROPS_STRUCT}'}}")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _col(name: str, struct_text: bool) -> str:
    if "." not in name:
        return f'"{name}"'
    root, field = name.split(".", 1)
    if struct_text:
        return f'CAST("{root}" AS {_PROPS_STRUCT})."{field}"'
    return f'"{root}"."{field}"'


def checksum(con, relation: str, columns, struct_text: bool = False) -> tuple:
    """``(count, term...)`` over ``relation`` (a FROM-clause fragment).

    ``struct_text``: nested columns are stored as DuckDB struct literals
    (``{'device': ios, ...}``), which is how the engine lands a nested
    column in a DuckDB table; they are cast back before checksumming."""
    terms = ["count(*)"] + [_TERMS[k].format(c=_col(c, struct_text))
                            for c, k in columns]
    return tuple(con.execute(
        f"SELECT {', '.join(terms)} FROM {relation}").fetchone())


def _sql_list(paths) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'"
                           for p in paths) + "]"


def source_relation(path: str, as_text: bool = True) -> str:
    """Read a bulk_load source file (or glob) with DuckDB's own readers.
    ``as_text`` reads CSV cells as written; otherwise DuckDB types them."""
    if path.endswith(".csv"):
        return f"read_csv('{path}', header=true, all_varchar={as_text})"
    if path.endswith(".jsonl"):
        return (f"read_json('{path}', format='newline_delimited', "
                f"columns={_EVENTS_JSON_COLUMNS})")
    return f"read_parquet('{path}')"


# ---------------------------------------------------------------- delta log

def delta_live_adds(table: str) -> dict[str, dict]:
    """``{path: add action}`` of the latest version, by replaying every
    JSON commit. Commits are never cleaned up here (no log retention
    runs), so the JSON files alone describe every version."""
    live: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(table, "_delta_log", "*.json"))):
        if not os.path.basename(p)[:20].isdigit():
            continue
        with open(p) as f:
            for line in f:
                a = json.loads(line) if line.strip() else {}
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
    return live


def delta_active_files(table: str) -> list[str]:
    """Data files of the latest version. A file carrying a deletion
    vector is refused: this reader cannot apply it."""
    out = []
    for rel, add in delta_live_adds(table).items():
        if add.get("deletionVector"):
            raise ValueError(f"deletion vector on {rel}: not checkable")
        out.append(os.path.join(table, unquote(rel)))
    return sorted(out)


def delta_relation(table: str) -> str:
    files = delta_active_files(table)
    if not files:
        return "(SELECT NULL WHERE false)"
    return f"read_parquet({_sql_list(files)}, union_by_name=true)"


# --------------------------------------------------------------- expected

def _load(con, name: str, tables) -> None:
    """Create table ``name`` from Arrow tables, concatenated in order."""
    con.execute(f"DROP TABLE IF EXISTS {name}")
    for i, t in enumerate(tables):
        con.register("part", t)
        con.execute((f"INSERT INTO {name} " if i else
                     f"CREATE TABLE {name} AS ") + "SELECT * FROM part")
        con.unregister("part")


def lake_expected(con, tables) -> str:
    """Latest row per key over the seed table and every batch applied."""
    _load(con, "lake_in", tables)
    return ("(SELECT * FROM lake_in QUALIFY row_number() OVER "
            "(PARTITION BY o_orderkey ORDER BY updated_at DESC) = 1)")


def cdc_expected(con, tables) -> str:
    """Latest op per key by sequence, deletes dropped."""
    _load(con, "cdc_in", tables)
    return ("(SELECT * FROM (SELECT * FROM cdc_in QUALIFY row_number() "
            "OVER (PARTITION BY id ORDER BY _sling_synced_seq DESC) = 1) "
            "WHERE _sling_synced_op <> 'D')")


def live_parquet_bytes(con, relation: str, path: str) -> int:
    """Bytes of ``relation`` written once as zstd parquet."""
    con.execute(f"COPY (SELECT * FROM {relation}) TO '{path}' "
                "(FORMAT parquet, COMPRESSION zstd)")
    n = os.path.getsize(path)
    os.remove(path)
    return n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
