"""run_replication's stream pool: the compiled streams of a replication
run concurrently when their order cannot be observed, inline and in order
when it can; bookkeeping, fail-fast and continue_on_error behave as in
the sequential loop."""

import os
import threading
import time
import types

import pytest

from sling_cli_spark.plans import replication as rep
from sling_cli_spark.runner import TaskResult

TABLES = ("nation", "region", "supplier", "customer")


@pytest.fixture
def slots(monkeypatch):
    """Pin ``sc.defaultParallelism`` to 2, as on ``local[2]``, and the
    driver's core count above it: the pool is 2 wide on any host."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 2))
    monkeypatch.setattr(os, "cpu_count", lambda: 8)


def _rc(sf_dir, out, target="local", hooks=None):
    lake = target == "local"
    return rep.ReplicationConfig(
        source="local", target=target,
        defaults={"mode": "full-refresh",
                  "target_options": {"format": "delta"} if lake else {}},
        streams={os.path.join(sf_dir, f"{t}.parquet"): {
            "object": os.path.join(out, t) if lake else f"main.{t}"}
            for t in TABLES},
        hooks=hooks or {})


def _runs(rt):
    """{runs.*} entries minus ids, clocks and the output directory."""
    return [(k, e["status"], e["total_rows"], e["error"], e["stream"],
             e["config"]["mode"], os.path.basename(e["config"]["object"]))
            for k, e in rt.state_extra["runs"].items()]


def _fake_run(monkeypatch, behave):
    """Replace runner.run with ``behave(table) -> rows`` (or raise);
    returns the tables in call order."""
    calls = []

    def fake(spark, cfg, *a, **kw):
        table = os.path.basename(cfg.source.stream).split(".")[0]
        calls.append(table)
        return TaskResult(rows=behave(table), columns=[], mode="full-refresh")

    monkeypatch.setattr("sling_cli_spark.runner.run", fake)
    return calls


def test_fanout_width_rules(sf_dir, monkeypatch):
    from sling_cli_spark.plans.pipeline import PipelineRuntime

    monkeypatch.setattr(os, "cpu_count", lambda: 8)

    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=3))
    none = PipelineRuntime()

    def width(rc, rt=none, **over):
        compiled = rep.compile_replication(rc)
        for cfg in compiled:
            for k, v in over.items():
                setattr(cfg.source, k, v)
        shared = lambda cfg: (rt.connections.get(cfg.target.conn)
                              or rt.connections.get(rc.target.lower()))
        return rep._fanout_width(spark, rc, compiled, shared)

    rc = _rc(sf_dir, "/out")
    assert width(rc) == 3  # min(4 streams, 3 slots)
    two = rep.ReplicationConfig(
        source="local", target="local",
        streams=dict(list(rc.streams.items())[:2]))
    assert width(two) == 2  # min(2 streams, 3 slots)
    assert width(_rc(sf_dir, "/out", target="duckdb:///x.db")) == 3
    with monkeypatch.context() as m:
        m.setattr(os, "cpu_count", lambda: 2)
        assert width(rc) == 2  # driver cores cap the slots
    # every condition under which stream order is observable
    assert width(_rc(sf_dir, "/out", hooks={"pre": [{"log": "x"}]})) == 1
    staged = _rc(sf_dir, "/out")
    staged.streams[next(iter(staged.streams))]["hooks"] = {
        "post": [{"log": "x"}]}
    assert width(staged) == 1
    atomic = _rc(sf_dir, "/out")
    atomic.atomic = True
    assert width(atomic) == 1
    assert width(rc, conn="api://Q") == 1
    assert width(rc, conn="duckdb:///src.db") == 1
    assert width(rc, stream="select * from t") == 1
    assert width(_rc(sf_dir, "/out", target="sqlite:///x.db")) == 1
    shared = PipelineRuntime(connections={"duckdb:///x.db": object()})
    assert width(_rc(sf_dir, "/out", target="duckdb:///x.db"),
                 rt=shared) == 1
    state = _rc(sf_dir, "/out")
    state.env = {"SLING_STATE": "DB/sling_state"}
    assert width(state) == 1
    same = _rc(sf_dir, "/out")
    for o in same.streams.values():
        o["object"] = "/out/one"
    assert width(same) == 1


def test_fanout_matches_width_one(spark, sf_dir, tmp_path, slots,
                                  monkeypatch):
    """Four file streams at width 2 land the same tables, rows and
    {runs.*} entries as at width 1; two streams really overlap, on
    worker threads that carry the caller's job group."""
    from sling_cli_spark import runner
    from sling_cli_spark.plans.pipeline import PipelineRuntime
    from sling_cli_spark.sources.delta_py import read_delta

    def land(out, rt):
        res = rep.run_replication(spark, _rc(sf_dir, out), runtime=rt)
        tables = {t: sorted(map(tuple, read_delta(
            spark, os.path.join(out, t)).collect())) for t in TABLES}
        return res, tables

    sequential = PipelineRuntime()
    with monkeypatch.context() as m:
        m.setattr(rep, "_fanout_width", lambda *a: 1)
        res1, tables1 = land(str(tmp_path / "w1"), sequential)

    real_run = runner.run
    both_running = threading.Barrier(2, timeout=60)
    seen = []

    def overlapping_run(spark, cfg, *a, **kw):
        seen.append((threading.current_thread() is threading.main_thread(),
                     spark.sparkContext.getLocalProperty(
                         "spark.jobGroup.id")))
        if len(seen) <= 2:
            both_running.wait()  # breaks unless two streams overlap
        return real_run(spark, cfg, *a, **kw)

    monkeypatch.setattr(runner, "run", overlapping_run)
    concurrent = PipelineRuntime()
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "fanout-test")
    try:
        res2, tables2 = land(str(tmp_path / "w2"), concurrent)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen == [(False, "fanout-test")] * 4
    assert list(res2) == list(res1)
    assert [r.rows for r in res2.values()] == \
        [r.rows for r in res1.values()]
    assert tables2 == tables1
    assert _runs(concurrent) == _runs(sequential)
    assert all(e["status"] == "success"
               for e in concurrent.state_extra["runs"].values())
    assert concurrent.state_extra["execution"]["status"] == \
        {"error": 0, "success": 4}


def test_fanout_uri_targets(spark, sf_dir, tmp_path, slots, monkeypatch):
    """Delta targets addressed by a ``file:`` URI resolve their Hadoop
    filesystem through the active session, which worker threads must
    carry too."""
    from sling_cli_spark import runner
    from sling_cli_spark.sources.delta_py import read_delta

    real_run = runner.run
    on_main = []

    def recording_run(spark, cfg, *a, **kw):
        on_main.append(threading.current_thread() is threading.main_thread())
        return real_run(spark, cfg, *a, **kw)

    monkeypatch.setattr(runner, "run", recording_run)
    rc = _rc(sf_dir, "")
    for t, opts in zip(TABLES, rc.streams.values()):
        opts["object"] = f"file://{tmp_path}/{t}"
    res = rep.run_replication(spark, rc)
    assert on_main == [False] * 4
    assert [r.rows for r in res.values()] == [25, 5, 10, 150]
    assert [read_delta(spark, str(tmp_path / t)).count()
            for t in TABLES] == [25, 5, 10, 150]


def test_fanout_interrupt_starts_no_more_streams(spark, sf_dir, tmp_path,
                                                 slots, monkeypatch):
    """An interrupt reaching the calling thread while it waits for a
    stream stops the replication: in-flight streams finish, queued ones
    never start."""
    import signal
    from concurrent.futures import Future

    from sling_cli_spark.plans.pipeline import PipelineRuntime

    class Interrupted(BaseException):
        pass

    interrupted, settling = threading.Event(), threading.Event()

    def on_sigint(signum, frame):
        interrupted.set()
        raise Interrupted

    real_result = Future.result

    def result(self, timeout=None):
        settling.set()  # every stream is submitted
        return real_result(self, timeout)

    monkeypatch.setattr(Future, "result", result)
    both_running = threading.Barrier(2, timeout=60)
    main = threading.main_thread().ident

    def behave(table):
        both_running.wait()
        if table == "nation":
            assert settling.wait(60)
            signal.pthread_kill(main, signal.SIGINT)
        assert interrupted.wait(60)
        time.sleep(0.1)  # the calling thread records the interrupt
        return 1

    calls = _fake_run(monkeypatch, behave)
    rt = PipelineRuntime()
    previous = signal.signal(signal.SIGINT, on_sigint)
    try:
        with pytest.raises(Interrupted):
            rep.run_replication(spark, _rc(sf_dir, str(tmp_path)),
                                runtime=rt)
    finally:
        signal.signal(signal.SIGINT, previous)
    assert sorted(calls) == ["nation", "region"]
    assert [k.rsplit("_", 2)[-2] for k in rt.state_extra["runs"]] == \
        ["nation", "region"]


def test_fanout_fail_fast(spark, sf_dir, tmp_path, slots, monkeypatch):
    """The failing stream's own error is raised; no stream starts once a
    failure is seen; in-flight streams finish first."""
    from sling_cli_spark.plans.pipeline import PipelineRuntime

    class Boom(Exception):
        pass

    rt = PipelineRuntime()
    nation_running, region_failed = threading.Event(), threading.Event()
    finished = []

    def region_status():
        return next(v["status"] for k, v in rt.state_extra["runs"].items()
                    if "region" in k)

    def behave(table):
        if table == "region":
            assert nation_running.wait(60)
            region_failed.set()
            raise Boom(table)
        nation_running.set()
        # nation is in flight when region fails; it finishes only once
        # region's failure is recorded, freeing a worker for supplier
        assert region_failed.wait(60)
        deadline = time.monotonic() + 60
        while region_status() != "error" and time.monotonic() < deadline:
            time.sleep(0.01)
        finished.append(table)
        return 25

    calls = _fake_run(monkeypatch, behave)
    with pytest.raises(Boom) as e:
        rep.run_replication(spark, _rc(sf_dir, str(tmp_path)), runtime=rt)
    assert str(e.value) == "region"
    assert sorted(calls) == ["nation", "region"]
    assert finished == ["nation"]
    runs = rt.state_extra["runs"]
    assert [(k.rsplit("_", 2)[-2], v["status"]) for k, v in runs.items()] \
        == [("nation", "success"), ("region", "error")]
    assert rt.state_extra["execution"]["status"]["error"] == 1

    # two failures: the first in STREAM order is raised, even when it
    # fails later in time
    def behave2(table):
        if table == "region":
            assert nation_running.wait(60)
            region_failed.set()
            raise Boom(table)
        nation_running.set()
        assert region_failed.wait(60)
        raise Boom(table)

    nation_running.clear()
    region_failed.clear()
    _fake_run(monkeypatch, behave2)
    with pytest.raises(Boom) as e:
        rep.run_replication(spark, _rc(sf_dir, str(tmp_path)))
    assert str(e.value) == "nation"


def test_fanout_continue_on_error(spark, sf_dir, tmp_path, slots,
                                  monkeypatch):
    from sling_cli_spark.plans.pipeline import PipelineRuntime

    def behave(table):
        if table in ("region", "customer"):
            raise ValueError(table)
        return 7

    calls = _fake_run(monkeypatch, behave)
    rt = PipelineRuntime()
    res = rep.run_replication(spark, _rc(sf_dir, str(tmp_path)),
                              runtime=rt, continue_on_error=True)
    assert sorted(calls) == sorted(TABLES)
    assert [r.rows if r else None for r in res.values()] == \
        [7, None, 7, None]
    status = rt.state_extra["execution"]["status"]
    assert (status["error"], status["success"]) == (2, 2)
    assert [f.split(": ")[1] for f in status["failures"]] == \
        ["ValueError('region')", "ValueError('customer')"]
    assert [v["status"] for v in rt.state_extra["runs"].values()] == \
        ["success", "error", "success", "error"]


def test_fanout_hooks_keep_exact_order(spark, sf_dir, tmp_path, slots,
                                       monkeypatch):
    from sling_cli_spark.plans import pipeline

    order = []
    monkeypatch.setitem(pipeline._STEP_TYPES, "log",
                        lambda spark, step, ctx, rt=None:
                        order.append(step["message"]))
    _fake_run(monkeypatch, lambda t: order.append(
        f"run {t} main={threading.current_thread() is threading.main_thread()}"
    ) or 1)
    rc = _rc(sf_dir, str(tmp_path), hooks={
        "start": [{"log": "start"}], "end": [{"log": "end"}],
        "pre": [{"log": "pre"}], "post": [{"log": "post"}]})
    first = next(iter(rc.streams))
    rc.streams[first]["hooks"] = {"pre": [{"log": "stream pre"}],
                                  "post": [{"log": "stream post"}]}
    rep.run_replication(spark, rc)
    want = ["start"]
    for i, t in enumerate(TABLES):
        want += ["pre"] + (["stream pre"] if i == 0 else [])
        want += [f"run {t} main=True"]
        want += (["stream post"] if i == 0 else []) + ["post"]
    assert order == want + ["end"]


def test_sqlite_target_runs_inline_in_order(spark, sf_dir, tmp_path,
                                            slots, monkeypatch):
    from sling_cli_spark.sinks import db_load

    real_run_db = db_load.run_db
    order = []

    def recording_run_db(spark, cfg, db, **kw):
        order.append((cfg.target.object,
                      threading.current_thread() is threading.main_thread()))
        return real_run_db(spark, cfg, db, **kw)

    monkeypatch.setattr(db_load, "run_db", recording_run_db)
    dbfile = tmp_path / "t.sqlite"
    res = rep.run_replication(
        spark, _rc(sf_dir, "", target=f"sqlite://{dbfile}"))
    assert order == [(f"main.{t}", True) for t in TABLES]
    assert [r.rows for r in res.values()] == [25, 5, 10, 150]


def test_duckdb_target_fans_out(spark, sf_dir, tmp_path, slots):
    """Streams into one DuckDB file, each on its own connection, land
    concurrently."""
    import duckdb

    dbfile = tmp_path / "t.duckdb"
    res = rep.run_replication(
        spark, _rc(sf_dir, "", target=f"duckdb://{dbfile}"))
    assert [r.rows for r in res.values()] == [25, 5, 10, 150]
    con = duckdb.connect(str(dbfile), read_only=True)
    try:
        assert [con.execute(f"select count(*) from main.{t}").fetchone()[0]
                for t in TABLES] == [25, 5, 10, 150]
    finally:
        con.close()
