"""The repo benchmark: one closed-loop batch workload per run.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
benchmark (perfbench/build.py). A run then starts two JVMs one after the
other, each with a local[nproc] Spark session:

  1. prep   builds the seeded parquet table of the workload (untimed);
  2. run    measures: trace 0 times the workload's entry point and reports
            the end-to-end metrics, trace 1 reports the per-layer metrics.

`setup_s` is the median, over both JVMs, of the time from process start to a
ready SparkSession. Every output is checked against the sequential
oracle. The run prints each metric with its unit, then, as its last line, the
JSON result: {"correct", "attempted", "failed", "metrics"} holding the
end-to-end metrics of BENCHMARK.json (trace 0) or its per-layer ones (trace 1).
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# A run whose CPU steal share exceeds this is flagged as not qualified.
STEAL_FLAG = 0.05
# All JVMs of one run, compilation excluded; a run must end inside 180 s.
RUN_BUDGET_S = 170.0
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
DRIVER_HEAP = "3g"


class BenchError(Exception):
    pass


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def java_opts(tmp):
    """JVM flags of every benchmark JVM: the module opens Spark needs on JDK
    17, and no files outside the checkout (temp dir, no hsperfdata)."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opens + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def start_jvm(classpath, role, args, work, deadline):
    """Runs one benchmark JVM to completion; returns (stdout lines, epoch
    start time, wall seconds)."""
    cmd = (["java"] + java_opts(work / "tmp") +
           [f"-Xmx{DRIVER_HEAP}", "-cp", classpath, "perfbench.BenchMain",
            "--role", role, "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--nproc", str(args.nproc)])
    log = work / f"{role}.log"
    started = time.time()
    t0 = time.monotonic()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{role} JVM exceeded the run budget")
    lines = out.splitlines()
    if proc.returncode != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise BenchError(f"{role} JVM exited {proc.returncode}:\n{tail}")
    return lines, started, time.monotonic() - t0


def tagged(lines, tag):
    for line in lines:
        if line.startswith(tag + " "):
            return line[len(tag) + 1:]
    raise BenchError(f"no {tag} line in JVM output")


def result(declared, metrics, failed, attempted):
    """The last output line: declared metrics only, each with its unit; a
    declared metric the run did not produce is an error."""
    out = {}
    for m in declared:
        if m["name"] not in metrics:
            raise BenchError(f"metric {m['name']} was not measured")
        value, unit = metrics[m["name"]]
        if unit != m["unit"]:
            raise BenchError(f"metric {m['name']} measured in {unit}, declared in {m['unit']}")
        if not isinstance(value, (int, float)) or value != value:
            raise BenchError(f"metric {m['name']} has no numeric value: {value!r}")
        out[m["name"]] = {"value": value, "unit": unit}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def report(metrics, out=sys.stdout):
    for name in sorted(metrics):
        value, unit = metrics[name]
        if isinstance(value, float):
            value = f"{value:.6g}"
        print(f"  {name:<36} {value} {unit}", file=out)


def run(args, root, spec):
    classpath = build.build(root)
    deadline = time.monotonic() + RUN_BUDGET_S
    work = root / build.BUILD_DIR / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        steal0, total0 = cpu_times()
        setups, metrics = [], {}
        for role in ("prep", "run"):
            lines, started, wall = start_jvm(classpath, role, args, work, deadline)
            setups.append(int(tagged(lines, "PERFBENCH_READY")) / 1000.0 - started)
            metrics[f"run.{role}_jvm_s"] = (wall, "s")
            if role == "prep":
                corpus = tagged(lines, "PERFBENCH_CORPUS")
        steal1, total1 = cpu_times()
        metrics.update((k, tuple(v)) for k, v in json.loads(tagged(lines, "PERFBENCH_RESULT")).items())
    finally:
        traces = work / "traces"
        if traces.is_dir():
            dest = root / build.BUILD_DIR / "traces"
            dest.mkdir(parents=True, exist_ok=True)
            for f in traces.iterdir():
                shutil.copy(f, dest / f.name)
        shutil.rmtree(work, ignore_errors=True)
    steal = (steal1 - steal0) / max(1, total1 - total0)
    metrics["setup_s"] = (statistics.median(setups), "s")
    metrics["setup_s.n"] = (len(setups), "count")
    metrics["run.steal_frac"] = (steal, "ratio")
    metrics["run.steal_flagged"] = (int(steal > STEAL_FLAG), "bool")
    failed = int(metrics.pop("failed")[0])
    attempted = int(metrics.pop("attempted")[0])
    metrics["failed_frac"] = (failed / attempted, "ratio")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} corpus: {corpus}")
    if steal > STEAL_FLAG:
        print(f"perfbench: steal share {steal:.3f} > {STEAL_FLAG}: run not qualified")
    report(metrics)
    return result(declared, metrics, failed, attempted)


def main(argv=None):
    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    try:
        spec = json.loads(spec_path.read_text())
        if args.workload not in {w["name"] for w in spec["workloads"]}:
            raise BenchError(f"unknown workload {args.workload}")
        args.nproc = len(os.sched_getaffinity(0))
        print(json.dumps(run(args, root, spec)))
    except (BenchError, RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
