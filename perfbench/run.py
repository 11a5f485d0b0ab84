"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed (untimed), sets the session up three times (``setup_s`` is the
median), then runs iterations back to back for ``--seconds`` (one
client, one SparkSession, closed loop) and checks the outputs.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations and reports the per-layer metrics, the
tracing overhead, and writes the spans to ``.bench_work/traces/``.
Every metric is printed by name with its unit; the last stdout line is
one compact JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "iter_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB"}
#: per-layer metrics of the final line (the detail lines print more):
#: the ones an optimisation is most likely to move, few enough that the
#: line stays under 2000 bytes
PER_LAYER = (
    "session.get_spark_s",
    "converter.inference.s", "converter.inference.jobs", "converter.inference.cpu_s",
    "converter.parse.s", "converter.parse.cpu_s",
    "converter.write.s", "converter.write.cpu_s", "converter.write.max_task_s",
    "converter.csv_bytes_read_per_input", "converter.output.bytes_per_in",
    "converter.footer.s",
    "tables.resolve_s",
    "queries.construct.s", "queries.construct.jobs", "queries.construct.cpu_s",
    "queries.construct.shuffle_write_bytes",
    "queries.execute.s", "queries.execute.jobs", "queries.execute.cpu_s",
    "python.total_s",
    "shuffle.static_bytes",
    "trace.unattributed_s", "trace.overhead_frac",
)


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    last = name.rsplit(".", 1)[-1]
    if last in ("jobs", "tasks", "files", "row_groups", "iterations") or "records" in last:
        return "count"
    if "bytes" in last and "per" not in last:
        return "B"
    if last == "s" or last.endswith("_s"):
        return "s"
    return "ratio"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import csv2parquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, spark_cores, vm_hwm_kb

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(spark_cores()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM (the Spark launcher's too): temp files in the work
        # directory, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    wl = WORKLOADS[args.workload](work, args.seed)
    try:
        wl.prepare()
        phase("inputs")
        setups = [wl.setup() for _ in range(SETUP_REPS)]
        wl.warm()
        phase("setup " + " ".join(f"{s['setup_s']:.2f}" for s in setups) + ", warm")
        run = traced_loop(wl, args.seconds) if args.trace else timed_loop(wl, args.seconds)
        run["rss_kb"] = vm_hwm_kb("self") + vm_hwm_kb(wl.jvm_pid())
        phase(f"measure: {len(run['iters'])} untraced iterations "
              + " ".join(f"{x:.2f}" for x in run["iters"]))
        problems = wl.check()
        if args.trace:
            run["layers"].update(wl.output_metrics())
        phase("check")
    finally:
        wl.stop()
        shutil.rmtree(work, ignore_errors=True)
    phase("stop")
    if not run["iters"]:
        print("perfbench: no iteration completed", file=sys.stderr)
        return 1
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    report(args, wl, setups, run, wl.attempted, min(wl.attempted, wl.failed + len(problems)))
    return 0


_T0 = time.perf_counter()


def phase(name: str) -> None:
    """Progress line on stderr: elapsed seconds at the end of a phase."""
    print(f"# {time.perf_counter() - _T0:7.2f} s  {name}", file=sys.stderr, flush=True)


def _iterate(wl, fn, *a):
    """One iteration, or None if it raised (the operation that raised
    counts as failed)."""
    try:
        return fn(*a)
    except Exception:
        wl.failed += 1
        print(f"iteration failed:\n{traceback.format_exc()}", file=sys.stderr)
        return None


def _untraced(wl, run: dict) -> None:
    times = _iterate(wl, wl.iteration)
    if times:
        for k, v in times.items():
            run["ops"].setdefault(k, []).append(v)
        run["iters"].append(sum(times.values()))


def timed_loop(wl, seconds: float) -> dict:
    run = {"ops": {}, "iters": []}
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        _untraced(wl, run)
    return run


def traced_loop(wl, seconds: float) -> dict:
    """Untraced and traced iterations alternate, so the tracing overhead
    is measured under the same conditions as the layers."""
    from spans import Tracer

    tr = Tracer(run=f"{wl.name}-{wl.seed}")
    run = {"ops": {}, "iters": []}
    traced: list[float] = []
    layers: list[dict[str, float]] = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        _untraced(wl, run)
        out = _iterate(wl, wl.traced_iteration, tr)
        if out is not None:
            traced.append(out[0])
            layers.append(out[1])
    names = sorted({k for m in layers for k in m})
    run["layers"] = {k: median([m.get(k, 0.0) for m in layers]) for k in names}
    if traced and run["iters"]:
        run["layers"]["trace.overhead_frac"] = median(traced) / median(run["iters"]) - 1
    run["layers"]["trace.iterations"] = len(traced)
    os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
    tr.dump(os.path.join(ROOT, ".bench_work", "traces", f"{tr.run}.jsonl"))
    return run


def _num(v: float) -> float | int:
    """Whole numbers (counts) print without a fractional part."""
    return int(v) if float(v).is_integer() else v


def report(args, wl, setups, run, attempted: int, failed: int) -> None:
    ops = run["ops"]
    e2e = {
        "setup_s": median([s["setup_s"] for s in setups]),
        "iter_s": median(run["iters"]),
        "op_geomean_s": math.exp(sum(math.log(median(v)) for v in ops.values()) / len(ops)),
        "peak_rss_mb": run["rss_kb"] / 1024,
    }
    print(f"# workload {wl.name} seed {args.seed}: {len(run['iters'])} untraced iterations, "
          f"input {wl.input_bytes} B, {attempted} operations attempted, {failed} failed")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {unit(k)}")
    for k in sorted(ops):
        op_s = median(ops[k])
        if wl.name == "query_mix":
            print(f"query.{k}.s {op_s:.6g} s")
        else:
            print(f"{k}.s {op_s:.6g} s\n{k}.mb_s {wl.input_bytes / 1e6 / op_s:.6g} MB/s")
    metrics = dict(e2e)
    if args.trace:
        layers = {k: median([s[k] for s in setups])
                  for k in ("session.get_spark_s", "session.ship_package_s")}
        layers.update(run["layers"])
        for k in sorted(layers):
            print(f"{k} {layers[k]:.6g} {unit(k)}")
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": _num(v), "unit": unit(k)} for k, v in metrics.items()},
    }, separators=(",", ":")))


if __name__ == "__main__":
    sys.exit(main())
