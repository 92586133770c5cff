#!/usr/bin/env python3
"""Run one flowbench workload and print its result.

    python3 flowbench/run.py --workload mobility_x10 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark from source with sbt (offline) and caches the
classpath under `.flowbench/build/`, keyed by a hash of every source and
build file. Each run then starts one fresh JVM (`flowbench.Main`) in a
private directory under `.flowbench/`, which is removed at exit.

The last line of standard output is the result object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. The line before it is a full report: run
environment (CPU count, task slots, heap, load average at start and
end), error rate, the tail percentile and its sample count, per-operation
samples and fingerprints.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"flowbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "build.sbt"),
            os.path.join(BENCH_DIR, "project", "build.properties"),
            os.path.join(BENCH_DIR, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, state):
    """Compile engine + benchmark once per source hash; return the classpath."""
    cp_file = os.path.join(state, "build", source_hash(root) + ".classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    log = os.path.join(state, "build", "sbt.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, run_dir, args):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "flowbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True, stdin=subprocess.DEVNULL)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, f"timed out after {JVM_TIMEOUT_S}s", log_path
    return (out, proc.returncode, log_path)


def tail_of(path, n=30):
    """The benchmark's own progress lines and any error, not Spark's INFO log."""
    try:
        with open(path, errors="replace") as fh:
            lines = [l for l in fh if " INFO " not in l and " WARN " not in l]
            return "".join(lines[-n:])
    except OSError:
        return ""


def check_fingerprints(state, key, fps):
    """Results of one seed must repeat across runs: the first run records
    them, later runs compare. Returns one message per mismatch."""
    path = os.path.join(state, "fingerprints", key + ".json")
    if not os.path.isfile(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(fps, fh, indent=0, sort_keys=True)
        return []
    with open(path) as fh:
        known = json.load(fh)
    return [f"{k}: {fps[k]} differs from an earlier run's {known[k]}"
            for k in sorted(set(known) & set(fps)) if known[k] != fps[k]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--gen-only", action="store_true",
                    help="generate the inputs once and print their fingerprints")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}", 2)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail(f"{root} holds no engine sources (build.sbt, src/main/scala); run from a checkout", 2)

    state = os.path.join(root, ".flowbench")
    cp = build(root, state)
    slots = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out, code, log = run_jvm(cp, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir, "--slots", str(slots),
            "--gen-only", "1" if a.gen_only else "0"])
        if out is None or code != 0:
            fail(f"JVM failed ({code}):\n{tail_of(log)}")
        if a.gen_only:
            line = [l for l in out.splitlines() if l.startswith("FLOWBENCH_INPUTS ")]
            print(line[-1][len("FLOWBENCH_INPUTS "):])
            return
        lines = [l for l in out.splitlines() if l.startswith("FLOWBENCH_RESULT ")]
        if not lines:
            fail(f"JVM printed no result:\n{tail_of(log)}")
        res = json.loads(lines[-1][len("FLOWBENCH_RESULT "):])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = os.getloadavg()

    key = f"{a.workload}-seed{a.seed}-s{a.seconds}"
    failures = res["failures"] + check_fingerprints(state, key, res["fingerprints"])
    failed = res["failed"] + len(failures) - len(res["failures"])
    attempted = res["attempted"]
    metrics = {}
    kind = "per_layer" if a.trace else "end_to_end"
    for m in spec[kind]:
        got = res[kind].get(m["name"])
        # a layer the workload does not exercise did no work
        value = got["value"] if got else 0.0
        if value is None:
            failures.append(f"metric {m['name']} could not be computed")
            failed += 1
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": {"nproc": os.cpu_count(), "task_slots": slots, "heap": HEAP,
                "heap_max_mb": res["heap_max_mb"],
                "loadavg_start": load_start, "loadavg_end": load_end},
        "passes": res["passes"], "setup_reps_s": res["setup_reps_s"], "session_s": res["session_s"],
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "tail": res["tail"], "failures": failures[:20],
        "input_logical_bytes": res["input_logical_bytes"], "storage_bytes": res["storage_bytes"],
        "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
        "op_samples": res["op_samples"],
    }
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
