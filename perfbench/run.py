"""Benchmark entry point.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a table of every metric with its unit
and sample count, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
Run records (box, every metric, failures) and trace documents are written
under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

# 1-minute load average per core above which a run is tagged as loaded
LOAD_TAG_PER_CORE = 0.5

# gated end-to-end metrics: reported by every workload (BENCHMARK.json)
END_TO_END = [
    ("setup_s", "s"),
    ("index_bytes_per_text_byte", "ratio"),
    ("query_p50_ms", "ms"),
    ("driver_peak_rss_mb", "MB"),
]
# reported in the table and the run record; not gated (see README)
REPORTED = [
    ("build_turns_per_s", "turns/s"),
    ("queries_per_s", "1/s"),
    ("query_tail_ms", "ms"),
    ("append_turns_per_s", "turns/s"),
    ("failed_ops_ratio", "ratio"),
]


def box_info() -> dict:
    def version(cmd):
        try:
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=60,
                               cwd=ROOT)
        except (OSError, subprocess.TimeoutExpired):
            return None
        out = (p.stdout or p.stderr).strip().splitlines()
        return out[0] if p.returncode == 0 and out else None

    import pyarrow
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    load = os.getloadavg()[0]
    return {
        "nproc": nproc,
        "load1_start": load,
        "loaded": load > LOAD_TAG_PER_CORE * nproc,
        "git_head": version(["git", "rev-parse", "HEAD"]),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java_version(),
    }


def java_version() -> str | None:
    """JAVA_VERSION from the JDK's release file (no JVM is started)."""
    release = os.path.join(os.environ.get("JAVA_HOME", ""), "release")
    try:
        with open(release) as fh:
            for line in fh:
                if line.startswith("JAVA_VERSION="):
                    return line.split("=", 1)[1].strip().strip('"')
    except OSError:
        pass
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    import layers
    import workloads
    from tracing import rest_base

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")
    box = box_info()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        run.start()
        try:
            workloads.WORKLOADS[args.workload](run)
            trace_doc = None
            if run.tracer is not None:
                run.tracer.uninstall()
                run.tracer.attribute_spark(rest_base(run.spark.sparkContext))
                run.tracer.finish()
                per_layer = layers.compute(run.tracer.spans, run)
                trace_doc = run.tracer.document(
                    workload=args.workload, seed=args.seed, box=box,
                    per_layer=per_layer)
        finally:
            run.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    box["load1_end"] = os.getloadavg()[0]
    if run.traced_lat_ms and run.lat_ms:
        # alternating traced and untraced queries: traced minus untraced p50
        run.values["trace.ab_overhead_ms"] = (
            statistics.median(run.traced_lat_ms) - statistics.median(run.lat_ms))
    run.values["failed_ops_ratio"] = run.failed / run.attempted
    run.samples["failed_ops_ratio"] = run.attempted

    if args.trace:
        metrics = {n: (per_layer[n], u) for n, u in layers.METRICS}
        table = metrics
    else:
        metrics = {n: (run.values.get(n), u) for n, u in END_TO_END}
        table = {**metrics, **{n: (run.values.get(n), u) for n, u in REPORTED}}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "box": box, "values": run.values,
        "samples": run.samples, "attempted": run.attempted,
        "failures": run.failures, "ops": run.ops,
        "wall_s": time.perf_counter() - t_start,
    }
    os.makedirs(OUT, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(OUT, f"run-{tag}-{stamp}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if trace_doc is not None:
        with open(os.path.join(OUT, f"trace-{tag}-{stamp}.json"), "w") as fh:
            json.dump(trace_doc, fh, default=str)

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    print("box: " + " ".join(f"{k}={v}" for k, v in box.items()))
    for name, (value, unit) in table.items():
        extra = ""
        if not args.trace:
            extra = f" n={run.samples.get(name, 1)}"
        if name == "query_tail_ms":
            pct = run.values.get("query_tail_pct")
            extra += f" (p{pct:.0f})" if pct is not None else " (needs n >= 11)"
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<46} {shown:>14} {unit:<8}{extra}")
    if "trace.ab_overhead_ms" in run.values:
        print(f"  traced minus untraced query p50: "
              f"{run.values['trace.ab_overhead_ms']:.6g} ms "
              f"(n={len(run.traced_lat_ms)}+{len(run.lat_ms)})")
    for f in run.failures:
        print(f"  FAILED {f['op']}: {f['input']}: {f['reason']}")

    missing = [n for n, (v, _u) in metrics.items() if v is None]
    if missing:
        print(f"no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
