"""Self-tests of the benchmark: input determinism, oracle sensitivity and
span arithmetic. They need neither Spark nor the engine.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import (Span, attributed, layer_table, missing_layers,  # noqa: E402
                   self_times)


# ------------------------------------------------------------- generator

def test_bulk_inputs_are_byte_identical_per_seed(tmp_path):
    a = gen.make_bulk_inputs(7, str(tmp_path / "a"), scale=0.01)
    b = gen.make_bulk_inputs(7, str(tmp_path / "b"), scale=0.01)
    c = gen.make_bulk_inputs(8, str(tmp_path / "c"), scale=0.01)
    assert a["summary"] == b["summary"]
    assert a["summary"]["sha256"] != c["summary"]["sha256"]
    assert a["summary"]["files"] == gen.LINEITEM_SHARDS + 3


@pytest.mark.parametrize("make", [
    lambda s: gen.LakeBatches(s), lambda s: gen.CdcBatches(s)])
def test_batches_are_identical_per_seed(make):
    a, b, c = make(3), make(3), make(4)
    for _ in range(3):
        ta, tb, tc = a.next(), b.next(), c.next()
        assert gen.table_digest(ta) == gen.table_digest(tb)
        assert gen.table_digest(ta) != gen.table_digest(tc)


def test_cdc_live_keys_follow_last_op():
    b = gen.CdcBatches(5)
    t = b.next()
    last = {}
    for k, op, s in zip(t["id"].to_pylist(),
                        t[gen.CDC_OP].to_pylist(),
                        t[gen.CDC_SEQ].to_pylist()):
        if k not in last or s > last[k][1]:
            last[k] = (op, s)
    live = set(range(1, gen.CDC_INITIAL_ROWS + 1))
    for k, (op, _) in last.items():
        (live.discard if op == "D" else live.add)(k)
    assert set(b.live.tolist()) == live


# ----------------------------------------------------------------- oracle

def _lake_inputs():
    base = gen.lake_base_table(1).slice(0, 500)
    batches = gen.LakeBatches(1)
    return [base, batches.next()]


def test_planted_wrong_row_fails_the_lake_oracle():
    con = oracle.connect()
    want_rel = oracle.lake_expected(con, _lake_inputs())
    cols = oracle.LAKE_COLUMNS
    want = oracle.checksum(con, want_rel, cols)
    got = con.execute(f"SELECT * FROM {want_rel}").arrow()
    con.register("ok", got)
    assert oracle.checksum(con, "ok", cols) == want
    price = got["o_totalprice"].to_pylist()
    price[17] = price[17] + 1
    bad = got.set_column(got.schema.get_field_index("o_totalprice"),
                         "o_totalprice", pa.array(price, got["o_totalprice"]
                                                  .type))
    con.register("bad", bad)
    assert oracle.checksum(con, "bad", cols) != want
    dropped = got.slice(1)
    con.register("short", dropped)
    assert oracle.checksum(con, "short", cols) != want


def test_cdc_oracle_drops_deleted_keys():
    con = oracle.connect()
    init = gen.cdc_initial(2)
    b = gen.CdcBatches(2)
    tables = [init, b.next(), b.next()]
    rel = oracle.cdc_expected(con, tables)
    ids = {r[0] for r in con.execute(f"SELECT id FROM {rel}").fetchall()}
    assert ids == set(b.live.tolist())


def _commit(log, version, actions):
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def test_delta_log_replay_sees_a_planted_wrong_row(tmp_path):
    """The oracle's own Delta reader follows add/remove actions, so a
    wrong row in the live file shows even when a correct file exists."""
    con = oracle.connect()
    table = tmp_path / "t"
    log = table / "_delta_log"
    log.mkdir(parents=True)
    good = pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"],
                     "qty": [1, 2, 3], "amount": [10, 20, 30]})
    bad = good.set_column(1, "name", pa.array(["a", "B", "c"]))
    pq.write_table(good, table / "part-0.parquet")
    pq.write_table(bad, table / "part 1.parquet")
    _commit(str(log), 0, [{"add": {"path": "part-0.parquet"}}])
    cols = oracle.CDC_COLUMNS
    con.register("good", good)
    want = oracle.checksum(con, "good", cols)
    assert oracle.checksum(con, oracle.delta_relation(str(table)),
                           cols) == want
    _commit(str(log), 1, [{"remove": {"path": "part-0.parquet"}},
                          {"add": {"path": "part%201.parquet"}}])
    assert oracle.delta_active_files(str(table)) == [
        str(table / "part 1.parquet")]
    assert oracle.checksum(con, oracle.delta_relation(str(table)),
                           cols) != want


def test_bulk_oracle_reads_struct_text_like_the_source(tmp_path):
    """Nested values landed in DuckDB as struct text check equal to the
    JSONL source, and a changed nested field does not."""
    con = oracle.connect()
    src = gen.make_bulk_inputs(3, str(tmp_path), scale=0.005)
    path = src["streams"]["events"]
    cols = oracle.BULK_COLUMNS["events"]
    want = oracle.checksum(con, oracle.source_relation(path), cols)
    con.execute("CREATE TABLE landed AS SELECT event_id, user_id, ts, kind, "
                "CAST(props AS VARCHAR) AS props FROM "
                + oracle.source_relation(path))
    assert oracle.checksum(con, "landed", cols, struct_text=True) == want
    con.execute("UPDATE landed SET props = replace(props, 'ios', 'web') "
                "WHERE event_id = (SELECT min(event_id) FROM landed "
                "WHERE props LIKE '%ios%')")
    assert oracle.checksum(con, "landed", cols, struct_text=True) != want


# ------------------------------------------------------------------ spans

def _tree():
    return [
        Span(0, "perfbench.delta_op", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0, jobs=2),
        Span(2, "b", 0, 3.0, 6.0, jobs=1),     # overlaps a
        Span(3, "leaf", 1, 2.0, 3.0, jobs=4),
        Span(4, "a", 1, 1.5, 2.5),             # recursive call of a
        Span(5, "late", None, 11.0, 12.0),
    ]


def test_self_time_subtracts_the_union_of_children():
    st = self_times(_tree())
    assert st[0] == pytest.approx(10.0 - 5.0)    # children cover [1, 6]
    assert st[1] == pytest.approx(3.0 - 1.5)     # [1.5, 3] covered
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_attributed_time_counts_engine_layers_only():
    spans = _tree()
    # a [1, 4] and b [3, 6] overlap; late [11, 12] has no parent; the
    # benchmark's own op span [0, 10] counts for nothing
    assert attributed(spans, 0.0, 20.0) == pytest.approx(6.0)
    assert attributed(spans, 5.0, 11.5) == pytest.approx(1.5)
    assert attributed(spans[:1], 0.0, 10.0) == 0.0


def test_missing_layers_names_each_op_that_missed_a_layer():
    spans = _tree() + [Span(6, "perfbench.delta_op", None, 20.0, 21.0),
                       Span(7, "a", 6, 20.0, 20.5)]
    assert missing_layers(spans, {"delta_op": ("a",), "*": ("b",)}) == []
    assert missing_layers(spans, {"delta_op": ("leaf",)}) == [
        "leaf: no call under delta_op span 6"]
    assert missing_layers(spans, {"*": ("gone",)}) == ["gone: no call"]


def test_layer_table():
    spans = _tree()
    t = layer_table(spans)
    assert t["a"]["calls"] == 2
    assert t["a"]["total_s"] == pytest.approx(3.0)   # nested call once
    assert t["a"]["self_s"] == pytest.approx(1.5 + 1.0)
    assert t["a"]["jobs"] == 2 + 4                   # its subtree
    assert t["perfbench.delta_op"]["jobs"] == 7
    assert t["perfbench.delta_op"]["self_s"] == pytest.approx(5.0)
