#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of the repository:

    python3 perfbench/run.py --workload sjoin_grid --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --steadiness --runs 10 [--workloads a,b] [--trace 0]
    python3 perfbench/run.py --selftest

A run builds the engine and the benchmark if their sources changed, starts one
JVM on local[nproc] with a fixed heap and collector, and prints one JSON
object as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. Host diagnostics go to standard error and to
.bench_build/perfbench/runs.jsonl.
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

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = build.BENCH
OUT = build.OUT
SPEC = ROOT / "BENCHMARK.json"
EXPECTED = BENCH / "expected" / "composite_queries.json"
# composite_queries runs the declared queries over a byte-identical copy of
# the sf0.01 test-data tables they read (TESTDATA.md), so a run reads only
# inside the checkout
SF_DIR = str(BENCH / "testdata" / "sf0.01")
HEAP = "3g"
YOUNG = "512m"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spec():
    return json.loads(SPEC.read_text())


def jvm(classes, work, args, out=sys.stderr, timeout=JVM_TIMEOUT_S):
    """Run graftbench.Main in a fresh JVM; its standard output goes to `out`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed-size heap does not grow with GC timing, and a fixed young
    # generation keeps eden in the same regions, so the JVM touches the
    # young generation plus what the program keeps in the old one:
    # peak_rss_mb follows the program's memory use, not the heap cap. Two malloc arenas keep native memory from
    # varying with thread scheduling. No perf-data file, so the JVM writes
    # nothing outside the checkout.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", os.pathsep.join([str(classes), build.classpath()]), "graftbench.Main"]
    cmd += args + ["--work", str(work)]
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, stdout=out, stderr=sys.stderr, cwd=work, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log(f"[run] JVM exceeded {timeout}s and was stopped")
        return 124


def validate(result, trace):
    """The result must carry exactly the metrics BENCHMARK.json names for
    this mode, each with its declared unit."""
    s = spec()
    declared = s["per_layer"] if trace else s["end_to_end"]
    got = result["metrics"]
    errs = []
    for m in declared:
        if m["name"] not in got:
            errs.append(f"metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errs.append(f"metric {m['name']} has unit {got[m['name']]['unit']}, declared {m['unit']}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        errs.append(f"undeclared metrics {sorted(extra)}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        errs.append("attempted must be at least 1")
    return errs


def run_once(workload, seed, seconds, trace):
    """One measured run; returns the result object or None."""
    classes = build.build()
    work = OUT / "work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--out", str(out),
                "--sf", SF_DIR, "--expected", str(EXPECTED)]
        code = jvm(classes, work, args)
        if code != 0 or not out.is_file():
            log(f"[run] JVM exited with {code}")
            return None
        result = json.loads(out.read_text())
        spans = work / "spans.jsonl"
        if spans.is_file():
            traces = OUT / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(spans, traces / f"{workload}-{seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = result.pop("host", None)
    with open(OUT / "runs.jsonl", "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace, "time": time.time(),
                            "result": result, "host": host}) + "\n")
    log(f"[run] host {json.dumps(host)}")
    return result


def measure(a):
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        log(f"[run] unknown workload {a.workload}; BENCHMARK.json names {names}")
        return 2
    result = run_once(a.workload, a.seed, a.seconds, a.trace == 1)
    if result is None:
        return 1
    errs = validate(result, a.trace == 1)
    if errs:
        for e in errs:
            log(f"[run] {e}")
        return 1
    print(json.dumps(result))
    return 0


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def steadiness(a):
    """Run each workload `--runs` times, each with its own seed, and report
    each metric's median and quartiles, and the quartile spread as a share
    of the median next to the metric's bound."""
    s = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in s["end_to_end"]}
    report = {}
    ok = True
    for w in workloads:
        vals = {}
        for k in range(a.runs):
            seed = a.first_seed + k
            r = run_once(w, seed, s["run_seconds"], a.trace == 1)
            if r is None or validate(r, a.trace == 1) or not r["correct"]:
                log(f"[steadiness] {w} seed {seed}: run failed or incorrect")
                ok = False
                continue
            for m, v in r["metrics"].items():
                vals.setdefault(m, []).append(v["value"])
            log(f"[steadiness] {w} seed {seed}: " +
                " ".join(f"{m}={v['value']:.4g}" for m, v in r["metrics"].items() if m in bounds or a.trace))
        report[w] = {}
        for m, v in vals.items():
            q1, med, q3 = quartiles(v)
            spread = (q3 - q1) / med if med else float("inf")
            report[w][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(v), "values": v}
            b = bounds.get(m)
            flag = ""
            if b is not None and a.trace == 0:
                flag = "ok" if spread <= b / 3 else ("within bound" if spread <= b else "TOO NOISY")
                ok &= spread <= b
            print(f"{w:18s} {m:28s} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
                  f"spread={spread:7.2%} bound={b if b is not None else '-'} {flag}")
    path = OUT / f"steadiness-{int(time.time())}.json"
    path.write_text(json.dumps(report, indent=1))
    print(f"raw values: {path.relative_to(ROOT)}")
    return 0 if ok else 1


def selftest(a):
    """The benchmark's own tests, in one JVM: generators are deterministic
    and every correctness check rejects a corrupted result. That every
    declared metric is emitted with its unit is checked by validate() on
    every measured run."""
    classes = build.build()
    work = OUT / "work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        sys.stdout.flush()
        code = jvm(classes, work, ["--workload", "selftest"], out=sys.stdout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[selftest] {'FAIL' if code else 'ok  '} generator and check tests (JVM exit {code})")
    return 1 if code else 0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", action="store_true")
    p.add_argument("--workloads", default="")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    try:
        if not SPEC.is_file():
            raise build.BuildError("BENCHMARK.json not found")
        build.sources()
        if a.seconds is None:
            a.seconds = spec()["run_seconds"]
        if a.selftest:
            return selftest(a)
        if a.steadiness:
            return steadiness(a)
        if not a.workload:
            p.error("--workload is required")
        return measure(a)
    except build.BuildError as e:
        log(f"[run] {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
