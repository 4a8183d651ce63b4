"""Process-wide registries stay correct when engine calls overlap on
several threads (concurrent replication streams, pipeline groups with
``concurrency > 1``)."""

import sys
import threading

import pytest

from sling_cli_spark.config import Config


@pytest.mark.parametrize("entry,impl", [
    ("sling_cli_spark.runner.run", "sling_cli_spark.runner._run_impl"),
    ("sling_cli_spark.sinks.db_load.run_db",
     "sling_cli_spark.sinks.db_load._run_db_impl"),
])
def test_db_source_stages_belong_to_their_call(spark, tmp_path, monkeypatch,
                                               dbsrc_stages, entry, impl):
    """Two overlapping calls each stage a DB-source export; the call that
    finishes first must not remove the other's staged parquet while its
    lazy scan still needs it. Each call removes its own on exit."""
    import os
    import importlib

    import duckdb

    from sling_cli_spark.sinks.db_load import read_db_source

    dbfile = str(tmp_path / "src.duckdb")
    con = duckdb.connect(dbfile)
    con.execute("create table t as select range as id from range(10)")
    con.close()
    cfg = Config.from_dict({
        "source": {"conn": f"duckdb://{dbfile}", "stream": "t"},
        "target": {"object": str(tmp_path / "out")},
        "mode": "full-refresh"})

    both_staged = threading.Barrier(2, timeout=60)
    first_done = threading.Event()

    def impl_fake(spark, cfg, *a, **kw):
        df = read_db_source(spark, cfg.source)  # staged, scanned lazily
        both_staged.wait()
        if threading.current_thread().name == "second":
            assert first_done.wait(60)
            return df.count()
        return 0

    monkeypatch.setattr(impl, impl_fake)
    mod, name = entry.rsplit(".", 1)
    call = getattr(importlib.import_module(mod), name)
    out, errors = {}, []

    def worker():
        try:
            out[threading.current_thread().name] = call(spark, cfg, None)
        except Exception as e:
            errors.append(e)
        finally:
            if threading.current_thread().name == "first":
                first_done.set()

    threads = [threading.Thread(target=worker, name=n)
               for n in ("first", "second")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert out == {"first": 0, "second": 10}
    assert len(dbsrc_stages) == 2
    assert not any(map(os.path.exists, dbsrc_stages))


def test_operator_cache_registry_is_thread_safe(monkeypatch):
    from sling_cli_spark import caching

    class Frame:
        released = 0

        def persist(self, level):
            return self

        def unpersist(self):
            Frame.released += 1

    monkeypatch.setattr(caching, "_TRACKED", [])
    monkeypatch.setattr(caching, "_MAX_TRACKED", 4)
    errors = []
    rounds, workers = 2000, 6

    def worker():
        try:
            for i in range(rounds):
                caching.persist_tracked(Frame())
                if i % 3 == 0:
                    caching.release_operator_caches()
        except Exception as e:
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(workers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    caching.release_operator_caches()
    assert not errors, errors[:3]
    assert caching.tracked_cache_count() == 0
    assert Frame.released == rounds * workers  # each exactly once
