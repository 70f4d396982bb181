#!/usr/bin/env python3
"""graft benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark from source
(perfbench/build.py), sizes the JVM from the host, runs the workload's
processes, checks every output, and prints as its LAST stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (and writes every span to perfbench/.work/<workload>/).
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest", "serve")
DEADLINE_S = 170.0

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def host():
    """(cores, heap MB): local[min(nproc, 4)] and a quarter of physical
    memory clamped to [1, 4] GB, so runs on one host always use the same
    sizes whatever else is running."""
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    mem_mb = 4096 * 4
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    return max(1, min(4, nproc)), max(1024, min(4096, mem_mb // 4))


def jvm(classes, cores, heap_mb, work, args):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return ([build.java(), f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+UseG1GC",
             "-XX:-UsePerfData",
             f"-XX:ActiveProcessorCount={cores}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args])


def run_jvm(cmd, log, deadline):
    """Run one JVM to completion (killed at the deadline); raise with the
    log's tail if it fails."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"JVM exited {rc}; log tail:\n{tail}")


def summary(workload, res):
    """Human-readable lines answering the trace questions from the run's own
    output: phase shares of a build, plan vs exec of a call and a single
    search, span coverage and tracing overhead."""
    lay = res["layer"]
    out = []
    if workload == "ingest" and lay.get("index.build_s"):
        b = lay["index.build_s"]
        parts = [(k.split(".")[2][:-2], v) for k, v in lay.items()
                 if k.startswith("index.build.") and k.endswith("_s") and not k.endswith("cpu_s")]
        out.append("build phase share of build wall: " + ", ".join(
            f"{n}={v / b:.1%}" for n, v in parts) + f" (build p50 {b:.2f}s)")
    if workload == "serve":
        for name, key in (("batch call", "search.call"), ("single search", "search.one")):
            p, e = lay.get(key + ".plan_s", 0.0), lay.get(key + ".exec_s", 0.0)
            if p + e > 0:
                out.append(f"{name}: plan_s={p:.3f} ({p / (p + e):.1%}) exec_s={e:.3f} ({e / (p + e):.1%})")
    out.append(f"spans cover {lay.get('trace.span_coverage', 0):.1%} of the timed window")
    return out


def tracing_overhead(a, res, e2e):
    """An untraced run saves its op figures; a traced run of the same
    workload and seed compares its own against them. Returns the lines to
    print and sets trace.overhead_share (primary op; 0 with no baseline)."""
    saved = os.path.join(HERE, ".work", "untraced", f"{a.workload}-{a.seed}-{a.scale}.json")
    if not a.trace:
        os.makedirs(os.path.dirname(saved), exist_ok=True)
        with open(saved, "w") as fh:
            json.dump(e2e, fh)
        return []
    lay = res["layer"]
    lay["trace.overhead_share"] = 0.0
    if not os.path.exists(saved):
        return [f"tracing overhead: no untraced run of seed {a.seed} to compare with"]
    with open(saved) as fh:
        base = json.load(fh)
    parts = []
    for r in ("primary", "secondary", "tertiary"):
        b, t = base.get(f"{r}_p50_s", 0.0), lay.get(f"trace.{r}_p50_s", 0.0)
        if b > 0:
            parts.append(f"{r} {t / b - 1:+.1%}")
            if r == "primary":
                lay["trace.overhead_share"] = t / b - 1
    return ["tracing overhead vs the untraced run of this seed (p50 walls): " + ", ".join(parts)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: tiny inputs, and a deliberately corrupted result
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", default="none")
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        classes = build.build(root)
    except (OSError, ValueError, build.BuildError) as e:
        sys.exit(f"perfbench: {e}")
    # a run that had to compile first still gets most of the usual time
    deadline = max(start + DEADLINE_S, time.time() + DEADLINE_S - 30)

    cores, heap_mb = host()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "run.log")
    t_launch = time.time()
    try:
        run_jvm(jvm(classes, cores, heap_mb, work,
                    [a.workload, a.seed, work, cores, a.scale, a.seconds, a.trace, a.corrupt]),
                log, deadline)
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
    except (RuntimeError, OSError, ValueError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: {a.workload} failed: {e}")

    e2e = dict(res["e2e"])
    e2e["setup_s"] = res["first_op_epoch_ms"] / 1000.0 - t_launch
    overhead = tracing_overhead(a, res, e2e)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layer"] if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source and not a.trace]
    if missing:
        sys.exit(f"perfbench: run did not produce {missing}")
    # a per-layer metric a workload never exercises reads 0 (layer idle)
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    user, sys_s = res["user_s"], res["sys_s"]
    counts = " ".join(f"{k}={v}" for k, v in res["counts"].items())
    print(f"# op walls (s): {res['ops']}")
    print(f"# {a.workload} seed={a.seed} local[{cores}] heap={heap_mb}MB ops: {counts}; "
          f"timed window {res['window_s']:.1f}s, cpu user={user:.1f}s sys={sys_s:.1f}s "
          f"(sys/user {sys_s / max(user, 1e-9):.1%}; above 12% marks a kernel-time storm)")
    if res["failed"]:
        print(f"# failed checks: {res['failures']}")
    if a.trace:
        for line in summary(a.workload, res) + overhead:
            print("# " + line)
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
