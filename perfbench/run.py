"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One process, one closed-loop client: a single SparkSession on
``local[<cpus>]`` runs the workload's ops back to back. The run

1. generates the workload's inputs from ``--seed`` under a scratch
   directory (removed at exit);
2. sets up once, in this fresh process: package and registry import and
   session start with its JVM launch (``session.start_s``), then one cold
   pass over every op with its outputs checked (``session.warmup_s``, the
   program's time only); ``setup_s`` is their sum. One cold set-up is all
   a run can afford: the medallion's cold pass alone takes 20-35 s on a
   4-vCPU host;
3. times warm ops for ``--seconds`` (a pass in progress is finished);
4. with ``--trace 1``, runs the loop once more with spans recorded around
   every call into the program's layers, and reports per-layer numbers and
   the tracing overhead against the untraced loop.

Human-readable lines go first; the last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "ra2_datalake_linaresjoan_spark"

sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, Op  # noqa: E402


def _host() -> tuple[int, int]:
    """(cpus this process may use, driver heap in MiB that fits RAM)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    heap = min(max(total_kib // 1024 // 6, 1024), 4096)
    return cpus, heap


def _pin_env(tmp: Path, cpus: int, heap_mb: int) -> None:
    """Must run before the package is imported: ``session`` reads
    ``SPARK_GRAFT_CPUS`` at import time."""
    for d in ("spark-local", "tmp"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp / "tmp")
    # collected timestamps are compared with generated ones
    os.environ["TZ"] = "UTC"
    time.tzset()


def _spark_conf(tmp: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        # keep the JVM's temp files and perf-data file out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'tmp'} -XX:-UsePerfData",
    }


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _loop(w, spark, seconds: float, tracer=None) -> tuple[list[Op], float]:
    """Run units until ``seconds`` have passed and the workload is at a
    pass boundary. Returns the ops and the summed unit wall time (output
    checks inside a unit run after its clock stops)."""
    ops: list[Op] = []
    busy = 0.0
    k = 0
    t_start = time.perf_counter()
    while True:
        if tracer is not None:
            tracer.op = k
            first_span = len(tracer.spans)
        t0 = time.perf_counter()
        try:
            unit_ops, wall = w.unit(spark, k, tracer)
        except Exception as e:  # a failing op is counted, the run goes on
            wall = time.perf_counter() - t0
            unit_ops = [Op(f"unit{k}", wall, 0, False, f"{type(e).__name__}: {e}"[:300])]
            w.failures.append(f"unit {k}: {unit_ops[0].error}")
        busy += wall
        ops.extend(unit_ops)
        if tracer is not None:
            tracer.collect_counters(tracer.spans[first_span:])
        k += 1
        if time.perf_counter() - t_start >= seconds and w.pass_done():
            return ops, busy


def _phase_line(phases: dict[str, float]) -> str:
    return "phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items())


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, tmp: Path) -> tuple[dict, list[str]]:
    import numpy as np

    import layers
    from spans import RssSampler, Tracer

    t_run = time.perf_counter()
    rng = np.random.default_rng(args.seed)
    w = WORKLOADS[args.workload](str(tmp / "data"), rng, args.tiny, args.inject_wrong)
    w.prepare()
    phases = {"inputs": time.perf_counter() - t_run}

    sampler = None
    spark = None
    try:
        t0 = time.perf_counter()
        from ra2_datalake_linaresjoan_spark import queries
        from ra2_datalake_linaresjoan_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{w.name}", extra_conf=_spark_conf(tmp))
        queries.queries()
        start_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        sampler = RssSampler(int(jvm_pid)).start()
        t0 = time.perf_counter()
        warmup_s = w.cold_pass(spark)
        phases["setup"] = time.perf_counter() - t0 + start_s

        sc = spark.sparkContext
        lines = [
            f"host master={sc.master} defaultParallelism={sc.defaultParallelism} "
            f"driver_heap={spark.conf.get('spark.driver.memory')} workload={w.name} "
            f"seed={args.seed} seconds={args.seconds}",
            f"setup start_s={start_s:.3f} warmup_s={warmup_s:.3f} (cold pass, program time)",
        ]
        t0 = time.perf_counter()
        ops, busy = _loop(w, spark, args.seconds)
        phases["loop"] = time.perf_counter() - t0
        e2e = {
            "setup_s": (start_s + warmup_s, "s"),
            "op_p50_s": (_median([o.seconds for o in ops]), "s"),
            "ops_per_s": (len(ops) / busy, "1/s"),
            "rows_per_s": (sum(o.rows for o in ops) / busy, "rows/s"),
        }
        failed = [o for o in ops if not o.ok]
        lines.append(
            f"ops attempted={len(ops)} failed={len(failed)} "
            f"failed_ratio={len(failed) / len(ops):.4f} (base: {len(ops)} timed ops)"
        )
        lines.append("op latencies: " + " ".join(f"{o.name}={o.seconds:.3f}" for o in ops))
        lines += [f"FAILED {o.name}: {o.error}" for o in failed]
        lines += [f"CHECK {f}" for f in w.failures]
        result = {
            "correct": not failed and not w.failures,
            "attempted": len(ops),
            "failed": len(failed),
        }
        if not args.trace:
            result["metrics"] = e2e
            lines.append(_phase_line(phases))
            return result, lines

        # the untraced loop above is the baseline of the tracing overhead
        t0 = time.perf_counter()
        tracer = Tracer(spark)
        tracer.install()
        try:
            t_ops, t_busy = _loop(w, spark, args.seconds, tracer)
        finally:
            tracer.uninstall()
        phases["traced_loop"] = time.perf_counter() - t0
        lines.append(_phase_line(phases))
        t_failed = sum(1 for o in t_ops if not o.ok)
        result["correct"] = result["correct"] and not t_failed and not w.failures
        per_layer = layers.per_layer(
            tracer.spans, t_ops, ops, start_s, warmup_s, w.layer_extras(),
        )
        per_layer["process.peak_rss_mb"] = (sampler.peak_bytes / 2**20, "MB")
        out_dir = ROOT / ".perfbench" / "out"
        out_dir.mkdir(parents=True, exist_ok=True)
        trace_path = out_dir / f"trace-{w.name}-seed{args.seed}.json"
        layers.write_trace(trace_path, tracer.spans, per_layer, e2e)
        lines.append(f"trace written to {trace_path.relative_to(ROOT)}")
        lines += layers.describe(tracer.spans, t_ops, t_busy)
        result["metrics"] = per_layer
        return result, lines
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            _stop_jvm(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: sf0.001-sized inputs, and a deliberately corrupted
    # program output that every check must catch
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--inject-wrong", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG}/ package next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = ROOT / ".perfbench" / f"run-{os.getpid()}"
    cpus, heap_mb = _host()
    _pin_env(tmp, cpus, heap_mb)
    sys.path.insert(0, str(ROOT))
    try:
        result, lines = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    result["metrics"] = {
        name: {"value": value, "unit": unit} for name, (value, unit) in result["metrics"].items()
    }
    for line in lines:
        print(line)
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
