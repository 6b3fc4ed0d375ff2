"""Run one benchmark workload in a fresh process and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run generates its inputs from the seed, sets up (session, inputs,
persisted layouts, REST emulator), times one cold pass over the
workload's operations, checks every operation's output on an untimed
pass, runs the workload's untimed warm-up passes, then times warm
passes until ``--seconds`` have gone by (at least three). The last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM_PASSES = 3


def _per_layer() -> list[tuple[str, str]]:
    """Names and units of the per-layer metrics, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def _configure_env(run_dir: str) -> None:
    """Pin the session to this host before the engine is imported: no
    more task threads than CPUs, a heap sized for the inputs, and every
    temporary file inside the run directory."""
    cpus = min(2, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def _install_wrappers(tracer) -> None:
    """Time the engine's layer boundaries by rebinding the names its
    modules call through: the plan compiler, the transform chain, and
    the source and sink adapters the registry hands out."""
    import openetl_spark.pipeline as pipeline_mod
    import openetl_spark.plans.compiler as compiler_mod

    def timed(span, fn):
        def wrapper(*a, **kw):
            with tracer.span(span):
                return fn(*a, **kw)
        return wrapper

    class Adapter:
        def __init__(self, inner, method, span):
            self._inner = inner
            setattr(self, method, timed(span, getattr(inner, method)))

        def __getattr__(self, name):
            return getattr(self._inner, name)

    get_source, get_sink = compiler_mod.get_source, pipeline_mod.get_sink
    pipeline_mod.compile_connector = timed("plans.compile", compiler_mod.compile_connector)
    compiler_mod.apply_transforms = timed("functions.transforms", compiler_mod.apply_transforms)
    compiler_mod.get_source = lambda a: Adapter(get_source(a), "read", "sources.read")
    pipeline_mod.get_sink = lambda a: Adapter(get_sink(a), "write", "sinks.write")


def _start_emulator(seed: int, records: int) -> tuple[subprocess.Popen, str]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "emulator.py"),
         "--seed", str(seed), "--records", str(records)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    port = proc.stdout.readline().strip()
    if not port.isdigit():
        _end(proc)
        raise RuntimeError("REST emulator did not start")
    return proc, f"http://127.0.0.1:{port}"


def _end(proc: subprocess.Popen, timeout_s: float = 30) -> None:
    """Close a child's stdin (the JVM and the emulator both exit on EOF)
    and wait for it; kill it if it does not exit in time."""
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: spark.stop() alone
    leaves the gateway JVM running until this process exits. A py4j call
    cut short by a signal leaves the gateway unusable, so the JVM is
    still made to exit (stdin closed, then killed) when stop() fails."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        _end(gateway.proc)


def _run_pass(ops, ctx, check: bool = False) -> tuple[float, list[float], int, list[str], set]:
    """One pass over the operations. Returns wall time, per-op latency,
    failures, check mismatches, and the op ids the tracer used."""
    from spans import cached_blocks, spark_job_metrics

    tr, spark = ctx.tracer, ctx.spark
    latencies, failed, wrong, ids = [], 0, [], set()
    t_pass = time.perf_counter()
    for op in ops:
        tr.op_id += 1
        ids.add(tr.op_id)
        group = f"op{tr.op_id}"
        if tr.enabled:
            spark.sparkContext.setJobGroup(group, op.name)
        t0 = time.perf_counter()
        try:
            reason = op.check(ctx) if check else op.run(ctx)
        except Exception:
            failed += 1
            print(f"operation {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            # On the check pass an operation that raised was never compared.
            reason = "raised" if check else None
        latencies.append(time.perf_counter() - t0)
        tr.ops.append({"op": tr.op_id, "name": op.name, "latency_s": latencies[-1]})
        if reason:
            wrong.append(f"{op.name}: {reason}")
        if tr.enabled:
            for k, v in spark_job_metrics(spark, group).items():
                tr.count(k, v)
            tr.count("spark.cached_blocks_left", cached_blocks(spark))
        spark.catalog.clearCache()
    return time.perf_counter() - t_pass, latencies, failed, wrong, ids


# Per-layer times summed from the spans of the same name; queries.build_s
# is the self time of the queries.build span instead.
SPAN_METRICS = {
    "pipeline.run_s": "pipeline.run", "plans.compile_s": "plans.compile",
    "functions.transforms_s": "functions.transforms", "sources.read_s": "sources.read",
    "sources.http_s": "sources.http", "sinks.write_s": "sinks.write",
}


def _layer_metrics(tracer, warm_ids: list[set], setup: dict[str, float],
                   names: list[str]) -> dict[str, float]:
    """Per-layer figures: set-up readings as measured, every other one
    the median over the warm passes of its per-pass sum."""
    per_pass = []
    for ids in warm_ids:
        vals = tracer.totals(ids)
        vals.update({m: vals.get(span, 0.0) for m, span in SPAN_METRICS.items()})
        vals["queries.build_s"] = tracer.self_times(ids).get("queries.build", 0.0)
        per_pass.append(vals)
    return {name: setup[name] if name in setup else
            statistics.median(p.get(name, 0.0) for p in per_pass)
            for name in names}


def run(args) -> dict:
    import datagen
    import workloads
    from spans import Tracer, cpu_ticks, process_age_s, tree_peak_rss_mb

    wl = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(HERE, "runs", f"{wl.name}-s{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data", f"perfbench_{wl.name}")
    layout_dirs = [os.path.join(ROOT, "spark-warehouse", sub, os.path.basename(data_dir))
                   for sub in workloads.LAYOUT_DIRS]
    _configure_env(run_dir)
    ticks0 = cpu_ticks()
    tracer = Tracer(bool(args.trace))
    setup: dict[str, float] = {"layouts.build_s": 0.0, "layouts.graph.build_s": 0.0}
    with contextlib.ExitStack() as cleanup:
        # Callbacks run last-in first-out, each even if another raised.
        cleanup.callback(shutil.rmtree, run_dir, ignore_errors=True)
        for d in layout_dirs:
            # Every run builds its layouts from none, so no run reads another's.
            shutil.rmtree(d, ignore_errors=True)
            cleanup.callback(shutil.rmtree, d, ignore_errors=True)

        t = time.perf_counter()
        from openetl_spark import catalog  # noqa: F401  (imports every query family)
        from openetl_spark.session import get_spark

        setup["catalog.import_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{wl.name}", {
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
        cleanup.callback(_stop_spark, spark)
        setup["session.get_spark_s"] = time.perf_counter() - t
        if tracer.enabled:
            _install_wrappers(tracer)
        rows = datagen.generate(data_dir, args.seed, wl.scale)
        ctx = workloads.Ctx(spark, tracer, data_dir, os.path.join(run_dir, "out"), args.seed)
        if wl.rest_records:
            emulator, ctx.emulator_url = _start_emulator(args.seed, wl.rest_records)
            cleanup.callback(_end, emulator)
        for name, build in wl.layouts:
            t = time.perf_counter()
            build(spark, data_dir)
            setup[f"layouts.{name}.build_s"] = time.perf_counter() - t
            setup["layouts.build_s"] += setup[f"layouts.{name}.build_s"]
        spark.catalog.clearCache()
        setup_s = process_age_s()

        cold_s, _, failed, _, _ = _run_pass(wl.ops, ctx)
        _, _, f, wrong, _ = _run_pass(wl.ops, ctx, check=True)
        failed += f
        for _ in range(wl.warmup_passes):
            failed += _run_pass(wl.ops, ctx)[2]
        passes = 2 + wl.warmup_passes
        warm_s, op_s, warm_ids = [], [], []
        t_warm = time.perf_counter()
        while len(warm_s) < MIN_WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
            s, l, f, _, ids = _run_pass(wl.ops, ctx)
            warm_s.append(s)
            op_s.extend(l)
            warm_ids.append(ids)
            failed += f
            passes += 1
        peak_mb = tree_peak_rss_mb()

    for w in wrong:
        print(f"incorrect output: {w}", file=sys.stderr)
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    # A virtual machine's vCPUs lose time to other guests; a run whose
    # figures stand out should be read against this share.
    print(f"host: {100 * steal / max(total, 1):.1f}% of CPU time stolen during the run",
          file=sys.stderr)
    for rec in tracer.ops:
        print(f"op {rec['op']:4d} {rec['name']:28s} {rec['latency_s']:8.3f} s", file=sys.stderr)
    if tracer.enabled:
        per_layer = _per_layer()
        values = _layer_metrics(tracer, warm_ids, setup, [n for n, _ in per_layer])
        trace_dir = os.path.join(HERE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{wl.name}-s{args.seed}.json"), "w") as fh:
            json.dump({"workload": wl.name, "seed": args.seed, "rows": rows,
                       "setup": setup, "spans": tracer.spans,
                       "ops": tracer.ops, "counts": {str(k): v for k, v in tracer.counts.items()},
                       "warm_pass_s": warm_s}, fh)
        metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_pass_s": {"value": cold_s, "unit": "s"},
            "warm_pass_s": {"value": statistics.median(warm_s), "unit": "s"},
            "op_p50_s": {"value": statistics.median(op_s), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    return {"correct": not wrong, "attempted": passes * len(wl.ops), "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "openetl_spark")):
        print(f"no openetl_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # SIGTERM unwinds through run()'s cleanup like an exception would.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
