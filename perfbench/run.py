#!/usr/bin/env python3
"""Crawl-lifecycle benchmark entry point.

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 45 --trace 0
    python3 perfbench/run.py --self-test

Builds the program from source (perfbench/build.py) when needed, runs one
benchmark JVM (perfbench.Main) on the workload generated from the seed, and
prints the JVM's stdout with the result object as the last line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer ones and the span tree is
written to .bench_build/perfbench/traces/. A run is always exactly one cold
lifecycle pass, which measures about 40-55 s on a 4-vCPU machine; --seconds
is accepted for the command-line contract and does not change the pass.
Exits non-zero, without a result line, when the build, the run or the
result's shape fails.

--self-test runs every workload at a small size under a comma-decimal
default locale (de_DE) in both modes, and checks that each result parses
and names exactly the metrics BENCHMARK.json lists, with their units.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

# every run, build excluded, ends within this many seconds
RUN_BUDGET_S = 175
HEAP = "-Xmx3g"


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)
    sys.stderr.flush()


def run_jvm(workload, seed, trace, deadline, scale=None, extra_jvm=()):
    """Run one benchmark JVM; return (exit code, stdout lines)."""
    work = os.path.join(build.OUT, "runs", "%s-%s-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java()] + build.jvm_flags() + [HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    cmd.append("-XX:SharedArchiveFile=" + build.CDS)
    cmd += list(extra_jvm)
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--trace", str(trace), "--work-dir", work]
    if scale is not None:
        cmd += ["--scale", str(scale)]
    log_path = os.path.join(build.OUT, "last-%s.log" % workload)
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             env=build.clean_env(), cwd=build.ROOT, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            log("run exceeded its %d s budget and was stopped; log: %s" % (RUN_BUDGET_S, log_path))
            shutil.rmtree(work, ignore_errors=True)
            return 1, []
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        log("benchmark JVM exited with %d; log: %s" % (p.returncode, log_path))
    return p.returncode, out.splitlines()


def parse_result(line):
    """The result object, or None when the line is not a well-formed result."""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    ok = (isinstance(r["correct"], bool) and isinstance(r["attempted"], int)
          and isinstance(r["failed"], int) and r["attempted"] >= 1
          and isinstance(r["metrics"], dict)
          and all(isinstance(m, dict) and set(m) == {"value", "unit"}
                  and isinstance(m["value"], (int, float)) and not isinstance(m["value"], bool)
                  for m in r["metrics"].values()))
    return r if ok else None


def run_once(workload, seed, trace, scale=None, extra_jvm=()):
    """One benchmark run: (stdout lines, result), result None on failure."""
    deadline = time.monotonic() + RUN_BUDGET_S
    code, lines = run_jvm(workload, seed, trace, deadline, scale, extra_jvm)
    return lines, parse_result(lines[-1]) if code == 0 and lines else None


def self_test():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            # comma-decimal default locale: a locale-sensitive number breaks the JSON
            lines, r = run_once(w["name"], 7, trace, scale=0.1,
                                extra_jvm=["-Duser.language=de", "-Duser.country=DE"])
            tag = "%s trace=%d" % (w["name"], trace)
            before = len(problems)
            if r is None:
                problems.append("%s: no well-formed result" % tag)
                continue
            for l in lines[:-1]:
                if l.startswith("input "):
                    json.loads(l[len("input "):])
            got = {k: m["unit"] for k, m in r["metrics"].items()}
            if got != want[trace]:
                problems.append("%s: metrics differ from BENCHMARK.json: missing %s, extra %s" % (
                    tag, sorted(set(want[trace]) - set(got)), sorted(set(got) - set(want[trace]))))
            if not r["correct"] or r["failed"] != 0:
                problems.append("%s: correct=%s failed=%d" % (tag, r["correct"], r["failed"]))
            log("self-test %s: %s" % (tag, "ok" if len(problems) == before else problems[-1]))
    for p in problems:
        log("SELF-TEST FAILURE " + p)
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    try:
        build.ensure()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        log("build failed: %s" % e)
        return 1
    if a.self_test:
        return self_test()
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    lines, result = run_once(a.workload, a.seed, a.trace)
    if result is None:
        log("no well-formed result line")
        return 1
    for l in lines:
        print(l)
    return 0


if __name__ == "__main__":
    sys.exit(main())
