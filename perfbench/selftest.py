#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (a few minutes):

  1. BENCHMARK.json is well formed (names unique, bounds <= 0.25, setup_s).
  2. Each workload, untraced and traced, prints every metric of BENCHMARK.json
     with its unit, and every output check passes.
  3. Each output check fails on a deliberately corrupted result.
  4. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
     exits non-zero without printing a result.

    python3 perfbench/selftest.py        # from the repository root
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = [sys.executable, os.path.join(HERE, "run.py")]
CORRUPTIONS = [("ingest", "missing-deadletter"), ("ingest", "drop-triple"),
               ("ingest", "replay-score"), ("serve", "drop-hit")]
failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, trace=0, corrupt="none", cwd=None):
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--scale", "tiny", "--corrupt", corrupt]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, cwd=cwd or os.getcwd(), timeout=240)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        res = None
    if r.returncode != 0 and cwd is None:
        print(r.stderr[-2000:])
    return r.returncode, res


def check_spec(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    expect(len(names) == len(set(names)), "metric names are unique")
    expect(all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names),
           "metric names are well formed")
    expect(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]), "bounds in (0, 0.25]")
    expect(any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in spec["end_to_end"]), "setup_s is an end-to-end metric")
    expect(2 <= len(spec["workloads"]) <= 8, "2 to 8 workloads")


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    check_spec(spec)
    nonzero = set()
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(w, trace)
            expect(rc == 0 and res is not None, f"{w} trace={trace}: exits 0 with a result")
            if res is None:
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: every {key} metric printed with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} trace={trace}: every output check passes")
            if trace == 0:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{w}: no end-to-end metric reads 0")
            nonzero |= {k for k, v in res["metrics"].items() if v["value"] != 0}
    idle = [m["name"] for m in spec["per_layer"] if m["name"] not in nonzero]
    print(f"note: per-layer metrics reading 0 on every workload at tiny scale: {idle}")
    for layer in ("corpus", "analyze", "index", "table", "search", "compare", "spark", "jvm"):
        expect(any(n.startswith(layer + ".") for n in nonzero), f"layer {layer} is measured")

    for w, corrupt in CORRUPTIONS:
        rc, res = run(w, 0, corrupt)
        expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a {corrupt} result fails its check")

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".out", ".work", "__pycache__"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=180)
    expect(r.returncode != 0 and '"correct"' not in r.stdout,
           "bare directory: non-zero exit, no result printed")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
