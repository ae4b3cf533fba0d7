"""Benchmark of the PIP + tile engine on local[4].

    python3 perfbench/run.py --workload pages_pip_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
the seed (cached under .perfbench/cache), the engine is set up three
times, the untimed output checks and then untimed operations warm the
session for at least WARMUP_S seconds, and operations then repeat for
``--seconds`` seconds.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations, runs the per-layer probes and prints the
per-layer metrics. The last stdout line is the JSON result; a full record
(host stamp, samples, checks, span self-times) goes to .perfbench/records
and the spans to .perfbench/traces. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
MASTER = "local[4]"
SETUP_REPS = 3
WARMUP_S = 14.0  # op times fall over the first ~10 s of operations
MIN_OPS = 3
MAX_OP_FAILURES = 3


def declared_units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    from inputs import MAX_SEED
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # any integer seed is accepted; inputs are generated from its residue,
    # so the same seed always gives the same inputs
    args.input_seed = args.seed % MAX_SEED
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def tail(samples: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    return {"pct": 100.0 * (n - 10) / n, "value": s[n - 11]}


class Phases:
    """Wall time of each step of a run, for the record."""

    def __init__(self):
        self.spans: dict[str, float] = {}
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.spans[name] = now - self._t
        self._t = now


class Engine:
    """Owns the Spark session, its JVM and the run's scratch directory."""

    def __init__(self, work: str):
        self.work = work
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # the engine ships its package through tempfile; keep it in the checkout
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None

    def start(self) -> tuple[float, float]:
        """Session start + package shipping, then the first action that
        runs Python tasks on every core. Returns both times."""
        from gdal_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=self.conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(0, 4096, numPartitions=4).mapInPandas(
            lambda it: it, "id long").write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def restart(self) -> tuple[float, float]:
        self.spark.stop()
        return self.start()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                proc = gw.proc
                gw.shutdown()
                proc.terminate()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            shutil.rmtree(self.work, ignore_errors=True)


def timed_ops(wl, spark, tracers, seconds: float) -> tuple[list[tuple[int, float, float]], int]:
    """Repeat the workload's operation for ``seconds``, at least MIN_OPS
    times per tracer, cycling through ``tracers`` so that traced and
    untraced operations see the same warm-up. Returns (tracer index,
    start, end) per operation. A raising operation counts as failed and
    is logged."""
    ops, failed = [], 0
    end = time.perf_counter() + seconds
    while ((len(ops) < MIN_OPS * len(tracers) or time.perf_counter() < end)
           and failed < MAX_OP_FAILURES):
        k = (len(ops) + failed) % len(tracers)
        t0 = time.perf_counter()
        try:
            with tracers[k].span("op"):
                wl.op(spark, tracers[k])
        except Exception:
            failed += 1
            traceback.print_exc()
            continue
        ops.append((k, t0, time.perf_counter()))
    if len({k for k, _, _ in ops}) < len(tracers):
        raise RuntimeError("every operation failed")
    return ops, failed


def durations(ops, k: int = 0) -> list[float]:
    return [t1 - t0 for i, t0, t1 in ops if i == k]


def end_to_end(eng, wl, seconds, setup) -> tuple[dict, dict, int, int]:
    from tracing import Tracer

    ops, failed = timed_ops(wl, eng.spark, [Tracer("untraced", enabled=False)], seconds)
    times = durations(ops)
    metrics = {
        "setup_s": statistics.median(setup),
        "docs_per_s": wl.rows / statistics.median(times),
    }
    detail = {"op_s": times, "op_p50_s": statistics.median(times), "op_tail": tail(times),
              "setup_samples_s": setup}
    return metrics, detail, len(times), failed


def per_layer(eng, wl, seconds, tr, session, cache, seed, con):
    import inputs
    import layers
    from host import RssSampler
    from tracing import Tracer

    spark = eng.spark
    with RssSampler(eng.jvm_pid()) as rss:
        ops, failed = timed_ops(wl, spark, [Tracer("untraced", enabled=False), tr], seconds)
    untraced, traced = durations(ops, 0), durations(ops, 1)
    # median over operations of each one's peak: one GC-timed spike does
    # not set the figure
    peaks = [rss.peak_mb(t0, t1) for _, t0, t1 in ops]
    call_s = tr.durations("pip_join.call")
    u, t = statistics.median(untraced), statistics.median(traced)

    chain = layers.flagship_chain(spark, tr, wl, reps=3)
    cells, c0 = layers.cells_probe(spark, tr, wl)
    kc = layers.kernel_and_cells(spark, tr, wl.points_dir, wl.polygons_dir, seed)
    knn, c1 = layers.knn_probe(spark, tr, con, wl.points_dir, wl.offset, seed)
    raster_dir = os.path.join(inputs.raster(cache, seed), "raster")
    ras, c2 = layers.raster_probe(spark, tr, con, wl.points_dir, raster_dir, wl.offset, seed)
    lin, c3 = layers.lineage_probe(spark, tr, wl.points_dir, wl.polygons_dir, wl.offset, eng.work)

    cs = chain["self_s"]
    m = {
        "session.start_s": statistics.median(s for s, _ in session),
        "session.first_python_task_s": statistics.median(p for _, p in session),
        "scan.exec_s": cs["scan"],
        "scan.rows_per_s": wl.rows / max(cs["scan"], 1e-9),
        "arrow.roundtrip_s": cs["arrow"],
        "arrow.bytes_per_row": layers.arrow_bytes_per_row(wl.points_dir),
        "pip_join.call_s": statistics.median(call_s),
        "pip_kernel.exec_s": cs["pip_kernel"],
        "tiles.txty_s": cs["tiles.txty"],
        "tiles.quadkey_s": cs["tiles.quadkey"],
        "sink.exec_s": cs["sink"],
        "memory.peak_rss_mb": statistics.median(peaks),
        "trace.overhead_frac": t / u - 1.0,
        "trace.layer_sum_ratio": chain["op_s"] / u,
    }
    m.update(kc)
    m.update(cells)
    m.update(knn)
    m.update(ras)
    m.update(lin)
    detail = {"untraced_op_s": untraced, "traced_op_s": traced, "op_peak_rss_mb": peaks,
              "chain_cumulative_s": chain["cum_s"], "chain_self_s": cs,
              "span_self_s": tr.self_times()}
    return m, detail, len(ops), failed, c0 + c1 + c2 + c3


def run(args, run_id: str) -> tuple[dict, dict]:
    import host
    import oracles
    from tracing import Tracer
    from workloads import WORKLOADS

    cache = os.path.join(STATE, "cache")
    eng = Engine(os.path.join(STATE, "work", run_id))
    tr = Tracer(run_id, enabled=bool(args.trace))
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "input_seed": args.input_seed,
              "seconds": args.seconds, "trace": args.trace}
    try:
        phase = Phases()
        wl = WORKLOADS[args.workload](cache, args.input_seed)
        phase("inputs")
        # SETUP_REPS set-ups; the first also launches the JVM, so the
        # median is a restart's figure
        session = [eng.start()]
        phase("jvm_start")
        record["stamp"] = host.stamp(ROOT, MASTER)
        session += [eng.restart() for _ in range(SETUP_REPS - 1)]
        setup = [s + p for s, p in session]
        phase("setup")
        # the output check reruns the operation's plan, so it is the first
        # part of the warm-up; at least one operation then fills the rest
        # of WARMUP_S
        warm_end = time.perf_counter() + WARMUP_S
        con = oracles.connect()
        checks = wl.check(eng.spark, con)
        phase("check")
        while True:
            wl.op(eng.spark, Tracer("warmup", enabled=False))
            if time.perf_counter() >= warm_end:
                break
        phase("warmup")
        if args.trace:
            metrics, detail, ops, failed, probe_checks = per_layer(
                eng, wl, args.seconds, tr, session, cache, args.input_seed, con)
            checks += probe_checks
        else:
            metrics, detail, ops, failed = end_to_end(eng, wl, args.seconds, setup)
        phase("measure")
        persisted = eng.spark.sparkContext._jsc.getPersistentRDDs().size()
        checks.append(("no_persisted_rdds", persisted == 0, f"{persisted} persisted"))
        con.close()
    finally:
        eng.close()
    record["phase_s"] = phase.spans
    record.update(detail)
    record["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    n_bad = failed + sum(not ok for _, ok, _ in checks)
    n_all = ops + failed + len(checks)
    record["fail_ratio"] = n_bad / n_all
    record["metrics"] = metrics
    units = declared_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": n_bad == 0,
        "attempted": n_all,
        "failed": n_bad,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }
    if args.trace:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tr.write(os.path.join(STATE, "traces", run_id + ".jsonl"))
    return result, record


def main(argv=None) -> int:
    try:
        sys.path.insert(0, ROOT)
        import duckdb  # noqa: F401
        import gdal_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its oracles: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    result, record = run(args, run_id)
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(os.path.join(STATE, "records", run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for c in record["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
