"""Runs one benchmark workload against the graft sources in the current
directory and prints its metrics.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (perfbench/build.py), starts
the benchmark JVM, checks the workload's outputs, and prints as the last
stdout line one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
A readable report goes to stderr, and the full result, with the run's
context, to .bench_build/perfbench/results/ (and to $PERFBENCH_RESULT when
set). The exit code is 0 only when
the outputs were correct.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("cdc_catchup", "cdc_steady", "dedup_sync")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        return [int(x) for x in parts]
    except OSError:
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def steal(before, after):
    """Steal share of all CPU time, and steal per user time, between two
    /proc/stat samples (None where unavailable)."""
    if not before or not after or len(before) < 8:
        return None, None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / (sum(d[:8]) or 1), (d[7] / d[0] if d[0] else None)


def host_context(before, after, load0, load1, raw):
    ctx = {"loadavg_start": load0, "loadavg_end": load1}
    ctx["steal_share"], ctx["steal_per_user"] = steal(before, after)
    ctx["measured_steal_share"] = steal(raw["measure_start_stat"],
                                        raw["measure_end_stat"])[0]
    ctx["measured_cpu_s"] = (raw["measure_end_cpu_ns"] -
                             raw["measure_start_cpu_ns"]) / 1e9
    return ctx


def run_jvm(root, args, work, raw):
    classes, jars = build.build(root)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java_bin(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *opens,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace),
           str(work), str(raw)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=str(root))
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not raw.exists():
        raise SystemExit(f"perfbench: benchmark JVM failed with exit code {code}")


def validity(workload, raw):
    """A cdc_steady run whose generator fell behind or whose backlog grew
    is invalid: its figures do not describe the fixed offered load."""
    if workload != "cdc_steady":
        return {"valid": True}
    late = metrics.lateness(raw["late_ms"])
    grew = metrics.backlog_grew(raw["lag_ms"])
    return {"valid": not late["behind"] and not grew["grew"],
            "generator_lateness_ms": late, "backlog": grew}


def overhead(results_dir, workload, traced_e2e):
    """Tracing overhead: the traced run's end-to-end figures against the
    median of this checkout's untraced runs of the same workload."""
    base = {}
    for p in results_dir.glob(f"{workload}-*-t0-*.json"):
        try:
            r = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if r.get("validity", {}).get("valid", True):
            for k, v in r["end_to_end"].items():
                base.setdefault(k, []).append(v)
    if not base:
        return None
    return {k: (traced_e2e[k] - statistics.median(v)) / statistics.median(v)
            for k, v in base.items() if k in traced_e2e and statistics.median(v)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    base = root / build.BUILD_DIR
    work = base / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    raw_path = work / "raw.json"
    cpu0, load0 = cpu_times(), loadavg()
    try:
        run_jvm(root, args, work, raw_path)
        raw_text = raw_path.read_text()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1, load1 = cpu_times(), loadavg()
    raw = json.loads(raw_text)

    e2e = metrics.end_to_end(raw)
    result = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "context": {**raw["context"],
                    **host_context(cpu0, cpu1, load0, load1, raw)},
        "validity": validity(args.workload, raw),
        "end_to_end": e2e,
        "apply_lag_tail": dict(zip(("percentile", "n"),
                                   metrics.tail(raw["lag_ms"])[::2])),
        "lookups": metrics.lookups(raw),
        "errors": raw["errors"],
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    if args.trace:
        layers = metrics.per_layer(raw)
        result["per_layer"] = layers
        result["overhead"] = overhead(base / "results", args.workload, e2e)
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{args.workload}-{args.seed}-{stamp}.json") \
            .write_text(raw_text)
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    text = json.dumps(result, indent=1)
    (results / f"{args.workload}-{args.seed}-t{args.trace}-{stamp}.json") \
        .write_text(text)
    if os.environ.get("PERFBENCH_RESULT"):
        Path(os.environ["PERFBENCH_RESULT"]).write_text(text)
    report = ("context", "validity", "apply_lag_tail", "lookups", "errors")
    print(json.dumps({k: result[k] for k in report}, indent=1),
          file=sys.stderr)
    if args.trace:
        print("per-layer self time (ms per unit): " + ", ".join(
            f"{k.split('.')[1]}={v:.1f}" for k, v in layers.items()
            if k.startswith("self_ms_per_unit.")), file=sys.stderr)
        print(f"unattributed_jobs: {layers['jobs.unattributed']:.0f} "
              f"of {layers['jobs.total']:.0f}", file=sys.stderr)
        print("tracing overhead vs untraced runs: " + (
            json.dumps({k: round(v, 4) for k, v in result["overhead"].items()})
            if result["overhead"] else "n/a (no untraced run of this "
            "workload in this checkout yet)"), file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    line = {
        "correct": not raw["errors"] and raw["failed"] == 0,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
