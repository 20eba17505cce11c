#!/usr/bin/env python3
"""graft benchmark runner: one workload, one seed, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus_etl --seed 1 --seconds 15 --trace 0

Steps: build the library and the harness (once per source state), generate
the seeded inputs into a fresh run directory, run the workload in one JVM
(`graft.perfbench.Main`), check the outputs (per-operation checks done in
the JVM, DuckDB oracles here) and print the metrics as the last stdout
line. `--trace 1` attaches the span recorder and prints per-layer metrics
instead of end-to-end ones. Everything is written under `.bench_build/`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# fixed JVM heap (-Xms = -Xmx), recorded in the output: a heap that
# grows on demand makes peak RSS follow G1's sizing decisions run to run
HEAP = "3g"
RUN_LIMIT_S = 160    # the JVM is killed this long after the build step
# the library build's forked-JVM options (build.sbt), minus the heap
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = ["-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root: str) -> str:
    h = hashlib.sha256()
    files = (glob.glob(f"{root}/src/main/**/*.scala", recursive=True)
             + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
             + glob.glob(f"{HERE}/*.py")
             + [f"{root}/build.sbt", f"{HERE}/build.sbt",
                f"{HERE}/project/build.properties"])
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root: str, state: str) -> str:
    """Compile library + harness with sbt (offline); return the classpath
    and the source stamp it was built from."""
    stamp_file, cp_file = f"{state}/build.stamp", f"{state}/classpath.txt"
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def run_jvm(cp: str, args: list, run_dir: str, deadline: float) -> int:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(f"{run_dir}/{d}", exist_ok=True)
    cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_FLAGS
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              f"-Dderby.system.home={run_dir}/tmp",
              "-cp", cp, "graft.perfbench.Main"] + args)
    # the program runs at its defaults: no JVM options injected from outside
    env = {k: v for k, v in os.environ.items()
           if k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def cpu_ticks():
    """Linux /proc/stat totals: (all ticks, steal ticks)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def git_commit(root: str) -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt")
            and os.path.isdir(f"{root}/src/main/scala/graft")
            and os.path.samefile(os.path.dirname(HERE), root)):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft next to perfbench/)")
    state = f"{root}/.bench_build/perfbench"
    os.makedirs(state, exist_ok=True)
    cp, stamp = build(root, state)
    t_built = time.time()

    run_dir = f"{state}/runs/{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out = f"{run_dir}/input", f"{run_dir}/out"
    os.makedirs(out)
    info = gen.generate(a.workload, a.seed, inp)
    deadline = t_built + RUN_LIMIT_S
    ticks0 = cpu_ticks()
    t_jvm = time.time()
    code = run_jvm(cp, ["--workload", a.workload, "--input", inp, "--out", out,
                        "--seconds", str(a.seconds), "--trace", str(a.trace)],
                   run_dir, deadline)
    jvm_s = time.time() - t_jvm
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    if code != 0 or not os.path.exists(f"{out}/result.json"):
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"workload JVM exited with {code}", 1)
    with open(f"{out}/result.json") as f:
        res = json.load(f)

    os.makedirs(f"{state}/oracle-cache", exist_ok=True)
    t_oracle = time.time()
    checks = oracle.check(a.workload, inp, out, res, f"{state}/oracle-cache")
    oracle_s = time.time() - t_oracle
    ops = res["ops"]
    # a wrong answer is a failed operation: the oracle-checked output
    # belongs to the last job (corpus_etl) or to the batch probe over the
    # fresh indexes (retrieval_serving)
    judged = {"corpus_pipeline": "job", "ann_index_probe@base": "batch_probe",
              "lexical_index_probe@base": "batch_probe",
              "stream_sessions": "standalone.stream_batch"}
    for c in checks:
        kind = "standalone.capex_job" if c["name"].startswith("capex:") \
            else judged.get(c["name"])
        if not c["ok"] and kind and any(o["kind"] == kind for o in ops):
            last = [o for o in ops if o["kind"] == kind][-1]
            last["ok"], last["error"] = False, f"wrong answer: {c['name']}"
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and all(c["ok"] for c in checks)

    e2e = metrics.end_to_end(a.workload, res, info)
    overhead = None
    main_ms = metrics.main_latency_ms(a.workload, res)
    hist = f"{state}/history-{a.workload}.jsonl"
    if a.trace:
        spans = f"{state}/traces/{a.workload}-s{a.seed}.jsonl"
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copy(f"{out}/spans.jsonl", spans)
        # tracing overhead: this run's main-operation median against the
        # untraced runs of the same code and seed; none there, none here
        ref = []
        if os.path.exists(hist):
            with open(hist) as f:
                ref = [h["main_ms"] for h in map(json.loads, f)
                       if h.get("stamp") == stamp and h.get("seed") == a.seed]
        overhead = main_ms / statistics.median(ref) - 1 if ref else None
        out_metrics = metrics.per_layer(a.workload, res)
        print(f"perfbench: spans written to {os.path.relpath(spans, root)}; tracing "
              f"overhead {'n/a' if overhead is None else f'{overhead:+.3f}'} "
              f"vs {len(ref)} untraced runs of seed {a.seed}", file=sys.stderr)
    else:
        with open(hist, "a") as f:
            f.write(json.dumps({"seed": a.seed, "stamp": stamp, "main_ms": main_ms}) + "\n")
        out_metrics = e2e

    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "env": dict(res["env"], heap=HEAP, git_commit=git_commit(root)),
        "inputs": info, "shares": metrics.shares(res) if a.workload != "corpus_etl" else None,
        "checks": checks,
        "ops_failed_frac": failed / len(ops),
        "samples": metrics.sample_counts(a.workload, res),
        "trend": metrics.trend(a.workload, res),
        "trace_overhead_frac": overhead if a.trace else None,
        # every operation in order, for reading the warm-up curve
        "op_ms": [[o["phase"], o["kind"], round(o["ms"], 1)] for o in ops],
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        # CPU time the hypervisor gave to other guests while the JVM ran:
        # the usual cause of a run that is slow across the board
        "host_steal_frac": round(ticks[1] / ticks[0], 4) if ticks[0] else None,
        "build_s": round(t_built - t_start, 3),
        "jvm_s": round(jvm_s, 3),
        "oracle_s": round(oracle_s, 3),
        "wall_s": round(time.time() - t_start, 3),
    }
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c}", file=sys.stderr)
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: op {o['seq']} {o['kind']} failed: {o['error']}", file=sys.stderr)
    print(json.dumps(detail))
    shutil.rmtree(run_dir, ignore_errors=True)
    for v in out_metrics.values():
        if not isinstance(v["value"], (int, float)) or math.isnan(v["value"]):
            fail(f"metric not measured: {out_metrics}", 1)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
