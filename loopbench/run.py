#!/usr/bin/env python3
"""Benchmark of the incremental block-range sync loop and the query surface.

Usage, from the repository root:

    python3 loopbench/run.py --workload block_sync --seed 1 --seconds 10 --trace 0

Workloads are block_sync and query_mix (see loopbench/BENCHMARK.md), or
`all` to run both in turn. The first run builds the library and the
benchmark from source with sbt and caches the classpath under
loopbench/target; later runs start the JVM directly. Each run gets a fresh
work directory under loopbench/work and deletes it at the end.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["block_sync", "query_mix"]
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Longest --seconds a run supports: 20 block_sync runs fit the generated
# history (33) and, traced (two lanes), the JVM time limit.
MAX_SECONDS = 20


def fail(msg):
    print(f"loopbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- statistics ---------------------------------------------------------

def median(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs):
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, samples beyond it). The value is the
    sorted sample at index n-11, the percentile its rank (n-11)/(n-1)
    times 100. With 10 samples or fewer no percentile has 10 beyond it,
    so the maximum is returned as p100 with 0 beyond."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    k = n - 11
    return s[k], 100.0 * k / (n - 1), n - 1 - k


def end_to_end(setup_s, phase):
    ops = phase["op_s"]
    value, pct, beyond = tail(ops)
    metrics = {
        "setup_s": setup_s,
        "run_s": phase["run_s"],
        "op_p50_s": median(ops),
        "op_tail_s": value,
        "cpu_s": phase["cpu_s"],
        "heap_live_peak_mb": phase["heap_live_peak_mb"],
    }
    return metrics, {"ops": len(ops), "tail_percentile": round(pct, 2),
                     "tail_beyond": beyond}


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def result(raw, e2e, trace):
    """The final JSON object for one workload's raw record and its
    end-to-end metrics; units are the ones BENCHMARK.json declares."""
    units = declared()[1 if trace else 0]
    metrics = raw["traced"]["layers"] if trace else e2e
    check_names(metrics, units)
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }


def check_names(metrics, units):
    if set(metrics) != set(units):
        fail(f"emitted metrics differ from BENCHMARK.json: "
             f"undeclared {sorted(set(metrics) - set(units))}, "
             f"missing {sorted(set(units) - set(metrics))}")


# ---- build and run ------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    return env


def classpath():
    stamp = os.path.join(BENCH, "target", "loopbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    print("loopbench: building with sbt", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "loopbench/target" in l and ":" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def java_cmd(cp, work, extra):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "loopbench.Main", "--work", work] + extra)


def run_jvm(cp, work, extra):
    """Runs the JVM in a fresh work dir and returns its stdout lines."""
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(java_cmd(cp, work, extra), cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=err, text=True, stdin=subprocess.DEVNULL)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"JVM did not finish within {JVM_TIMEOUT_S} s")
        with open(log) as f:
            errlines = f.read().splitlines()
        for l in errlines:
            if l.startswith("[loopbench]"):
                print(l, file=sys.stderr)
        if p.returncode != 0:
            sys.stderr.write("\n".join(errlines[-40:]) + "\n")
            fail(f"JVM exited with code {p.returncode}")
        return out.splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def bench(cp, workload, seed, seconds, trace):
    work = os.path.join(BENCH, "work", f"{workload}-{os.getpid()}")
    extra = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "1" if trace else "0",
             "--expected", os.path.join(BENCH, "query_mix_expected.json")]
    raws = [l[len("LOOPBENCH_RAW "):] for l in run_jvm(cp, work, extra)
            if l.startswith("LOOPBENCH_RAW ")]
    if not raws:
        fail("JVM printed no result")
    raw = json.loads(raws[-1])
    e2e, shape = end_to_end(raw["setup"]["setup_s"], raw["phase"])
    res = result(raw, e2e, trace)
    units = declared()[0]
    print(f"[{workload}] seed={seed} slots={raw['slots']} heap_max_mb={raw['heap_max_mb']} "
          f"inputs={json.dumps(raw['inputs'])}")
    print(f"[{workload}] setup={json.dumps(raw['setup'])}")
    print(f"[{workload}] end_to_end " + " ".join(
        f"{k}={v:.4f}{units[k]}" for k, v in e2e.items()) +
        f" fail_frac={raw['failed'] / raw['attempted']:.4f} "
        f"(failed {raw['failed']} of {raw['attempted']}; ops={shape['ops']}, "
        f"op_tail_s is p{shape['tail_percentile']} with {shape['tail_beyond']} ops beyond)")
    ph = raw["phase"]
    print(f"[{workload}] condition host.steal_frac={ph['host_steal_frac']:.4f} "
          f"jvm.jit_s={ph['jvm_jit_s']:.3f} jvm.gc_s={ph['jvm_gc_s']:.3f} "
          f"(timed phase with collections {raw['phase_wall_s']:.1f}s, "
          f"end checks {raw['end_checks_s']:.1f}s)")
    if trace:
        t, _ = end_to_end(raw["setup"]["setup_s"], raw["traced"])
        print(f"[{workload}] tracing overhead (traced minus untraced phase) " + " ".join(
            f"{k}={t[k] - e2e[k]:+.4f}{units[k]}" for k in e2e if k != "setup_s"))
        tp = raw["traced"]
        print(f"[{workload}] traced condition host.steal_frac={tp['host_steal_frac']:.4f} "
              f"jvm.jit_s={tp['jvm_jit_s']:.3f} jvm.gc_s={tp['jvm_gc_s']:.3f}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"library sources not found under {ROOT}/src/main/scala; "
             "run from a checkout of the repository")
    if not 1 <= args.seconds <= MAX_SECONDS:
        fail(f"--seconds must be between 1 and {MAX_SECONDS}")
    cp = classpath()
    if args.workload != "all":
        print(json.dumps(bench(cp, args.workload, args.seed, args.seconds, args.trace)))
        return
    results = {w: bench(cp, w, args.seed, args.seconds, args.trace) for w in WORKLOADS}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
