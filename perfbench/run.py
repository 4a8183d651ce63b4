"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. The run generates its inputs from the seed,
starts a Spark session on ``local[N]`` (N = min(4, cores) - 1), writes the
workload's seed tables and runs one warm-up cycle (together ``setup_s``),
then runs the workload as a closed loop with one client for ``--seconds``
and at least the workload's ``min_cycles``.
Afterwards it checks the outputs against the DuckDB oracle, prints every
metric by name with its unit, and prints one JSON object as the last line
of stdout. With ``--trace 1`` the engine's public functions are wrapped in
spans and the JSON carries the per-layer metrics instead.

Everything the run writes lives under ``.perfbench_work/`` in the current
directory. The run's own directory is removed at exit; ``results/`` keeps
each run's metrics and the traced run's spans as JSON lines. The exit code
is 0 only when every operation succeeded and every output matched the
oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# One core of the first four stays free for the Python process, the
# engine's Python workers and the JVM's own threads. On a 4-vCPU VM,
# runs with all four given to tasks spread 2-5x wider than interleaved
# runs of the same code with three.
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
# results and span files outlive the run's work directory
RESULTS = os.path.join(os.getcwd(), ".perfbench_work", "results")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("bulk_load", "lake_upsert", "cdc_stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    work directory, and make the engine importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]


def _spark_conf(work: str) -> dict:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: the JVM would otherwise keep a counters file
        # under the system temp directory, outside the work directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "sling_cli_spark")):
        print(f"perfbench: no sling_cli_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    _prepare(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from sling_cli_spark import session

    import oracle
    from spans import Tracer, missing_layers
    from workloads import WORKLOADS

    tracer = listener = None
    if args.trace:
        import layers

        tracer = Tracer()
        layers.install(tracer)
    w = WORKLOADS[args.workload](None, work, args.seed, tracer)

    t = time.perf_counter()
    w.setup_inputs()
    gen_s = time.perf_counter() - t

    t_setup = time.perf_counter()
    spark = session.get_spark("perfbench", master=f"local[{CORES}]",
                              extra_conf=_spark_conf(work))
    try:
        if tracer is not None:
            tracer.sc = spark.sparkContext
            listener = layers.DrainListener()
            spark.streams.addListener(listener)
        w.spark = spark
        w.setup()
        setup_s = time.perf_counter() - t_setup

        w.timing = True
        ov0 = tracer.overhead_s if tracer else 0.0
        t0 = time.perf_counter()
        cycles = 0
        while cycles < w.min_cycles or cycles % w.cycle_multiple or \
                time.perf_counter() - t0 < args.seconds:
            w.cycle()
            cycles += 1
        t1 = time.perf_counter()
        wall = t1 - t0
        overhead_s = (tracer.overhead_s - ov0) if tracer else 0.0
        w.timing = False
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

        con = oracle.connect()
        try:
            checked = w.verify(con)
        except Exception as e:  # an unreadable output is a wrong output
            w.mismatch(f"verify: {type(e).__name__}: {e}")
            checked = {"bytes_per_live_byte": float("nan")}
        finally:
            con.close()

        metrics = {
            "setup_s": (setup_s, "s"),
            "delta_op_p50_s": (_median(w.times["delta_op"]), "s"),
            "peer_op_p50_s": (_median(w.times["peer_op"]), "s"),
            "rows_per_s": (w.rows / wall, "rows/s"),
            "bytes_per_live_byte": (checked["bytes_per_live_byte"], "ratio"),
            "py_peak_rss_mb": (rss_mb, "MB"),
        }
        # reported, not bounded: a 0.3 s read moves by more than any
        # useful bound from run to run on a shared machine; the cost of
        # cdc_stream's lake merges and reads is bounded through rows_per_s,
        # whose window includes them
        report_only = {f"{k}_p50_s": (_median(w.times[k]), "s")
                       for k in ("delta_merge", "peer_merge", "delta_read",
                                 "peer_read") if w.times[k]}
        report_only["ops_per_s"] = (w.ops / wall, "ops/s")
        per_layer = None
        if tracer is not None:
            window = [s for s in tracer.spans
                      if s.start >= t0 and s.end <= t1]
            for miss in missing_layers(window, w.traced_layers):
                w.fail(f"trace: {miss}")
            listener.wait_for(tracer)
            per_layer = layers.per_layer(tracer, listener, w, t0, t1,
                                         overhead_s)
            tracer.dump(os.path.join(
                RESULTS, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        _stop(spark)

    attempted = max(w.attempted, 1)
    failed = min(w.failed, attempted)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": w.inputs, "gen_s": gen_s, "window_s": wall,
        "cycles": cycles,
        "op_s": {k: [round(x, 4) for x in v] for k, v in w.times.items()},
        "failed_ratio": failed / attempted,
        "errors": w.errors[:10],
    }
    print(json.dumps(report, default=str))
    for name, (value, unit) in {**metrics, **report_only,
                                **w.extra()}.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"failed_ratio = {failed / attempted:.6g} ratio")
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    _save(args, e2e, per_layer)
    out = e2e
    if per_layer is not None:
        from spans import format_table, layer_table

        print(format_table(layer_table(
            [s for s in tracer.spans if s.start >= t0])))
        for name, m in per_layer.items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        _print_overhead(args, e2e)
        out = per_layer
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(RESULTS, f"{workload}-{seed}-trace{trace}.json")


def _save(args, e2e: dict, per_layer) -> None:
    with open(_result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump({"metrics": e2e, "per_layer": per_layer}, f)


def _newest_source() -> float:
    """Modification time of the newest engine or benchmark source file."""
    newest = 0.0
    for top in (os.path.join(ROOT, "sling_cli_spark"), HERE):
        for root, _, names in os.walk(top):
            for n in names:
                if n.endswith(".py"):
                    newest = max(newest, os.path.getmtime(
                        os.path.join(root, n)))
    return newest


def _print_overhead(args, traced: dict) -> None:
    """Tracing overhead as the traced run's end-to-end loss against the
    untraced run of the same workload and seed, when one was made here
    on the current sources."""
    path = _result_path(args.workload, args.seed, 0)
    if not os.path.exists(path):
        print("trace overhead vs untraced: no untraced run of this seed")
        return
    if os.path.getmtime(path) < _newest_source():
        print("trace overhead vs untraced: the untraced run of this seed "
              "predates the current sources")
        return
    with open(path) as f:
        plain = json.load(f)["metrics"]
    for name in ("rows_per_s", "delta_op_p50_s", "peer_op_p50_s"):
        a, b = plain[name]["value"], traced[name]["value"]
        print(f"trace overhead on {name}: untraced {a:.6g}, traced {b:.6g}"
              f" ({(b - a) / a:+.1%})")


if __name__ == "__main__":
    sys.exit(main())
